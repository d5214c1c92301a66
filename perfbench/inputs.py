"""Seeded input generation.

All inputs derive from the bundled ``data/sf0.01`` fixture tables (the
same schema the engine's queries and oracles are written against).  The
IOC workloads use key-shifted clones of its ``documents`` table: clone c
of document j gets ``doc_id = c * stride + j``, and the seed permutes
which document text each clone carries, so every seed yields a
different but equally sized corpus.

pyarrow is imported only where a table is built: the engine imports it
too, and the benchmark must not load it before the timed set-up.  A
run generates its batch input in a child process:

    python3 -m perfbench.inputs SEED N_DOCS OUT_DIR
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import sys

DATA_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")


def base_documents() -> pa.Table:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(DATA_DIR, "documents.parquet"))


def cloned_documents(seed: int, n_docs: int, salt: str = "") -> pa.Table:
    """``n_docs`` documents made of whole or partial key-shifted clones of
    the base table, texts permuted per clone by ``seed``."""
    import pyarrow as pa

    base = base_documents().to_pydict()
    n = len(base["doc_id"])
    stride = max(base["doc_id"]) + 1
    rng = random.Random(f"{seed}:{salt}")
    cols: dict[str, list] = {k: [] for k in base}
    for c in range(-(-n_docs // n)):
        perm = list(range(n))
        rng.shuffle(perm)
        for j in range(min(n, n_docs - c * n)):
            src = perm[j]
            cols["doc_id"].append(c * stride + base["doc_id"][j])
            cols["text"].append(base["text"][src])
            cols["lang"].append(base["lang"][src])
            cols["source"].append(base["source"][j])
            cols["n_chars"].append(base["n_chars"][src])
    return pa.table(cols, schema=base_documents().schema.remove_metadata())


def write_documents(table: pa.Table, sf_dir: str) -> str:
    import pyarrow.parquet as pq

    os.makedirs(sf_dir, exist_ok=True)
    # no dictionary pages: cloned texts repeat, and a dictionary would
    # shrink the scan far below what distinct documents cost
    pq.write_table(
        table, os.path.join(sf_dir, "documents.parquet"), use_dictionary=False
    )
    return sf_dir


def tweet_json(doc_id: int, text: str, source: str) -> str:
    """One tweet envelope in the shape ``ioc_queries.synthetic_tweet_json``
    builds from a document row (FIXTURES.md B2)."""
    d = doc_id
    ip = f"{d % 223 + 1}[.]{d % 251}.{d % 17}[.]{d % 254 + 1}"
    body = (
        ("RT @bot " if d % 11 == 0 else "")
        + f"alert {ip} hash {hashlib.md5(text.encode()).hexdigest()}"
        + f" link hxxp://t{d}[.]co/x"
    )
    return json.dumps(
        {
            "created_at": f"2024-01-{d % 27 + 1:02d} 12:00:00",
            "id": d,
            "text": body,
            "retweeted": d % 6 == 0,
            "user": {"screen_name": source},
            "entities": {
                "hashtags": [{"text": "malspam"}],
                "urls": [{"expanded_url": f"https://past.example/{d}"}],
            },
        }
    )


def tweet_files(table: pa.Table, per_file: int) -> list[tuple[list[int], str]]:
    """Split a documents table into tweet-JSON file bodies: a list of
    (doc ids in the file, newline-delimited JSON)."""
    rows = table.to_pydict()
    out = []
    for i in range(0, len(rows["doc_id"]), per_file):
        ids = rows["doc_id"][i : i + per_file]
        lines = [
            tweet_json(d, t, s)
            for d, t, s in zip(
                ids,
                rows["text"][i : i + per_file],
                rows["source"][i : i + per_file],
            )
        ]
        out.append((ids, "\n".join(lines) + "\n"))
    return out


if __name__ == "__main__":
    seed, n_docs, out = int(sys.argv[1]), int(sys.argv[2]), sys.argv[3]
    write_documents(cloned_documents(seed, n_docs), out)
