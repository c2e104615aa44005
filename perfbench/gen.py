"""Seeded input generator: product catalogs, product feeds and question files.

Everything is a pure function of the seed: the same arguments write
byte-identical Parquet files. The program under test only sees the files.

- Products follow the reference shape, e.g.
  ``"Blue Medium Adult Male Shoes, product_id: 101"``.
- Questions are seeded from the reference's three canonical questions and
  carry an ``email`` column that must never reach the answers sink. A
  per-workload share of questions repeats an earlier question word for word.
- A product feed plants exact-duplicate listings (same content, new id) and
  near-duplicate listings (same content plus a relisting note).
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass

import pyarrow as pa
import pyarrow.parquet as pq

COLORS = ["Blue", "Red", "Green", "Black", "White", "Brown", "Pink", "Grey",
          "Navy", "Beige", "Yellow", "Purple"]
SIZES = ["Small", "Medium", "Large", "XL", "XXL"]
AGES = ["Adult", "Kids", "Toddler"]
GENDERS = ["Male", "Female", "Unisex"]
KINDS = ["Shoes", "Dress", "Shirt", "Boots", "Sandals", "Jacket", "Pants",
         "Hat", "Sneakers", "Skirt", "Coat", "Socks"]

CANONICAL_QUESTIONS = [
    "Find me a pair of mens formal shoes in medium size",
    "Show me little girl shoes in medium size",
    "Show me several options of a cheap read summer dress in medium size",
]
_TEMPLATES = [
    "Find me a pair of {g} {c} {k} in {s} size",
    "Show me {a} {k} in {s} size",
    "Show me several options of a cheap {c} {k} in {s} size",
    "Do you have {c} {k} for {a} in {s} size",
    "I need {g} {k} in {c} size {s}",
    "Looking for {s} {c} {k} for a {a} {g}",
]

PRODUCT_SCHEMA = pa.schema([
    ("product_id", pa.int64()), ("store_id", pa.int64()),
    ("content", pa.string()), ("inventory_count", pa.int32()),
])
QUESTION_SCHEMA = pa.schema([
    ("key", pa.binary()), ("role", pa.string()), ("content", pa.string()),
    ("sessionid", pa.string()), ("email", pa.string()),
])


def product_content(attrs: tuple[str, str, str, str, str], pid: int) -> str:
    color, size, age, gender, kind = attrs
    return f"{color} {size} {age} {gender} {kind}, product_id: {pid}"


def _attrs(rng: random.Random) -> tuple[str, str, str, str, str]:
    return (rng.choice(COLORS), rng.choice(SIZES), rng.choice(AGES),
            rng.choice(GENDERS), rng.choice(KINDS))


def _product_row(rng: random.Random, pid: int, content: str) -> dict:
    return {"product_id": pid, "store_id": rng.randrange(1, 51), "content": content,
            "inventory_count": rng.randrange(0, 500)}


def catalog(seed: int, n: int, *, first_id: int = 1) -> list[dict]:
    """``n`` products with ids ``first_id..first_id+n-1``."""
    rng = random.Random(f"catalog|{seed}|{first_id}")
    return [_product_row(rng, pid, product_content(_attrs(rng), pid))
            for pid in range(first_id, first_id + n)]


@dataclass
class Feed:
    rows: list[dict]
    #: product ids that must survive deduplication (one per listing set)
    base_ids: list[int]
    #: each planted exact-duplicate set: [original id, copy ids...]
    exact_sets: list[list[int]]
    #: each planted near-duplicate set: [original id, relisted ids...]
    near_sets: list[list[int]]


def product_feed(seed: int, n_base: int, *, exact_share: float, near_share: float) -> Feed:
    """A feed of ``n_base`` products with distinct attribute tuples (so no two
    base listings are near-duplicates) followed, interleaved, by planted
    duplicates. Copies always arrive after their original and carry larger
    ids, so the original is the survivor under first-arrived-wins."""
    rng = random.Random(f"feed|{seed}")
    seen: set[tuple] = set()
    base: list[dict] = []
    while len(base) < n_base:
        a = _attrs(rng)
        if a in seen:
            continue
        seen.add(a)
        pid = len(base) + 1
        base.append(_product_row(rng, pid, product_content(a, pid)))
    rows = list(base)
    next_id = n_base + 1
    exact_sets, near_sets = [], []
    for kind, share, sets in (("exact", exact_share, exact_sets), ("near", near_share, near_sets)):
        for orig in rng.sample(base, round(share * n_base)):
            if kind == "exact":
                content = orig["content"]
            else:
                content = orig["content"] + " (relisted)"
            copy = _product_row(rng, next_id, content)
            # land the copy somewhere after its original
            pos = rng.randrange(rows.index(orig) + 1, len(rows) + 1)
            rows.insert(pos, copy)
            sets.append([orig["product_id"], next_id])
            next_id += 1
    return Feed(rows, [r["product_id"] for r in base], exact_sets, near_sets)


def questions(seed: int, n: int, *, repeat_share: float, tag: str = "q") -> list[dict]:
    """``n`` questions. The first three are the canonical questions; a
    ``repeat_share`` of the rest repeat an earlier question verbatim, the
    others are distinct template fills. Session ids and emails are unique
    per row."""
    rng = random.Random(f"questions|{seed}|{tag}")
    seen: set[str] = set()
    out: list[str] = []
    for i in range(n):
        if i < len(CANONICAL_QUESTIONS):
            text = CANONICAL_QUESTIONS[i]
        elif out and rng.random() < repeat_share:
            text = rng.choice(out)
        else:
            while True:
                text = rng.choice(_TEMPLATES).format(
                    g=rng.choice(["mens", "womens", "unisex", "male", "female"]),
                    c=rng.choice(COLORS).lower(), k=rng.choice(KINDS).lower(),
                    s=rng.choice(SIZES).lower(), a=rng.choice(["adult", "kids", "toddler",
                                                               "little girl", "little boy"]))
                if text not in seen:
                    break
        seen.add(text)
        out.append(text)
    return [{"key": f"{tag}{i}".encode(), "role": "user", "content": text,
             "sessionid": f"{tag}-{seed}-{i:06d}", "email": f"user{i}.{tag}@example.com"}
            for i, text in enumerate(out)]


def write_parquet(rows: list[dict], schema: pa.Schema, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    table = pa.Table.from_pylist(rows, schema=schema)
    pq.write_table(table, path, compression="snappy")


_MTIME0 = 1_700_000_000


def write_batches(rows: list[dict], schema: pa.Schema, directory: str, per_file: int) -> int:
    """Split ``rows`` into files of ``per_file`` rows; returns the file count.
    The file source takes new files oldest first, so each file gets an
    mtime one second after the previous one."""
    n = 0
    for start in range(0, len(rows), per_file):
        path = os.path.join(directory, f"part-{n:05d}.parquet")
        write_parquet(rows[start:start + per_file], schema, path)
        os.utime(path, (_MTIME0 + n, _MTIME0 + n))
        n += 1
    return n
