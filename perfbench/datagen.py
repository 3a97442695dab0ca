"""Seeded inputs of the `lake_ingest` workload.

`ingest_batch(seed, i)` returns batch `i`: one JSON body in the shape of
one of the three reference REST sources (marketing products, sales
posts, crm users), about 2,000 records, with a fixed share of in-batch
exact duplicates. It is a pure function of its arguments.

The query workload needs no generator: it reads the project's sf0.1
test tables, copied into `perfbench/data/sf0.1/`.
"""

from __future__ import annotations

import json

import numpy as np

_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()

SOURCES = ("marketing", "sales", "crm")
BATCH_RECORDS = 2000
DUP_SHARE = 0.05  # in-batch exact repeats that remove_duplicates drops


def _marketing(rng, ids):
    cats = ("electronics", "jewelery", "men's clothing", "women's clothing")
    return [{"id": int(i), "title": f"product {i}",
             "price": f"{rng.uniform(1, 1000):.2f}",
             "description": " ".join(rng.choice(_WORDS, int(rng.integers(5, 60)))),
             "category": cats[int(rng.integers(0, 4))],
             "image": f"https://img.example/{i}.png",
             "rating": {"rate": round(float(rng.uniform(1, 5)), 1),
                        "count": int(rng.integers(0, 500))}} for i in ids]


def _sales(rng, ids):
    return [{"userId": int(rng.integers(1, 200)), "id": int(i),
             "title": " ".join(rng.choice(_WORDS, int(rng.integers(2, 8)))),
             "body": " ".join(rng.choice(_WORDS, int(rng.integers(10, 80))))}
            for i in ids]


def _crm(rng, ids):
    countries = ("UK", "US", "DE", "FR", "BR", "IN", "JP")
    out = []
    for i in ids:
        rec = {"email": f"user{i}@example.com",
               "phone": f"{rng.integers(100, 999)}-{rng.integers(1000, 9999)}",
               "location": {"country": countries[int(rng.integers(0, 7))],
                            "city": f"city{int(rng.integers(0, 50))}"},
               "registered": {"date": f"20{int(rng.integers(10, 24))}-01-01T00:00:00Z",
                              "age": int(rng.integers(0, 14))},
               "login": {"uuid": f"u-{i}"}}
        if rng.random() > 0.02:  # a few users without a name struct
            rec["name"] = {"title": "Mx", "first": f"first{i}", "last": f"last{i}"}
        out.append(rec)
    return out


def ingest_batch(seed: int, i: int) -> tuple[str, str]:
    """(source, JSON body) of ingest batch `i` for `seed`.

    Record ids are unique across batches (batch `i` owns ids
    [i * BATCH_RECORDS, (i + 1) * BATCH_RECORDS)), so only the in-batch
    repeats are duplicates. crm bodies come wrapped in a `results`
    envelope, as the reference API serves them."""
    rng = np.random.default_rng([seed, i])
    source = SOURCES[i % len(SOURCES)]
    n_unique = int(BATCH_RECORDS * (1 - DUP_SHARE))
    ids = np.arange(n_unique) + i * BATCH_RECORDS
    recs = {"marketing": _marketing, "sales": _sales, "crm": _crm}[source](rng, ids)
    recs += [recs[j] for j in rng.integers(0, n_unique, BATCH_RECORDS - n_unique)]
    order = rng.permutation(len(recs))
    recs = [recs[j] for j in order]
    body = {"results": recs} if source == "crm" else recs
    return source, json.dumps(body)

