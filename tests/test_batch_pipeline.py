"""End-to-end batch pipeline (the reference's `h-isac.py main()` as one
engine job — cybersecurity_ioc_etl_spark/batch.py)."""

from __future__ import annotations

import glob
import json
import os

import duckdb
import pytest

from cybersecurity_ioc_etl_spark.batch import run_hisac_batch
from cybersecurity_ioc_etl_spark.operators import ORACLES


def test_csv_fork_writes_and_counts(spark, sf_dir, tmp_path):
    out = str(tmp_path / "run1")
    m = run_hisac_batch(spark, sf_dir, out)
    assert m["n_iocs"] > 0 and m["n_messages"] > 0
    assert set(m) >= {"ip", "hash", "url", "email"}

    back = spark.read.option("header", True).csv(f"{out}/iocs_csv")
    assert back.count() == m["n_iocs"]
    # metrics table accumulated this run
    mt = spark.read.parquet(f"{out}/metrics")
    assert mt.count() == 4  # one row per type


def test_kv_fork_batches_without_csv(spark, sf_dir, tmp_path):
    """The reference crashed when --splunk was omitted (h-isac.py:210);
    here both forks work and the KV fork posts every row exactly once."""
    import json

    out = str(tmp_path / "run2")
    posted: list[str] = []

    class Collect:
        """Executor-side collector via local filesystem (local-mode test)."""
        def __init__(self, d): self.d = d
        def __call__(self, batch):
            import os, uuid
            with open(os.path.join(self.d, uuid.uuid4().hex), "w") as f:
                f.write("\n".join(batch))

    bdir = tmp_path / "batches"; bdir.mkdir()
    m = run_hisac_batch(spark, sf_dir, out, poster=Collect(str(bdir)))
    rows = []
    for p in glob.glob(f"{bdir}/*"):
        rows += open(p).read().splitlines()
    assert len(rows) == m["n_iocs"]
    assert json.loads(rows[0])["platform"] == "H-ISAC"
    # CSV fork was not taken
    assert not glob.glob(f"{out}/iocs_csv/*")


def _oracle(sf_dir: str, name: str) -> list[tuple]:
    """Rows of a registered query's DuckDB oracle over ``sf_dir``."""
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{sf_dir}/documents.parquet'")
    return con.execute(ORACLES[name]).fetchall()


def _post_to_dir(out_dir: str):
    """Poster recording each batch as a file (a closure, so workers
    unpickle it by value)."""

    def post(batch: list[str]) -> None:
        import os
        import uuid

        with open(os.path.join(out_dir, uuid.uuid4().hex), "w") as f:
            f.write("\n".join(batch))

    return post


def _run_fork(spark, sf_dir: str, out: str, fork: str) -> tuple[dict, int]:
    """Run the batch job on one sink fork; returns its metrics and the
    number of IOC rows the sink received."""
    if fork == "csv":
        m = run_hisac_batch(spark, sf_dir, out)
        sunk = spark.read.option("header", True).csv(f"{out}/iocs_csv").count()
    elif fork == "poster":
        bdir = os.path.join(out, "batches")
        os.makedirs(bdir)
        m = run_hisac_batch(spark, sf_dir, out, poster=_post_to_dir(bdir))
        sunk = sum(len(open(p).read().splitlines()) for p in glob.glob(f"{bdir}/*"))
    else:  # kv_url: the splunkkv sink over its local-dir transport
        kv = os.path.join(out, "kv")
        m = run_hisac_batch(spark, sf_dir, out, kv_url=kv)
        manifest = os.path.join(kv, "_manifest.json")
        sunk = json.load(open(manifest))["rows"] if os.path.exists(manifest) else 0
    return m, sunk


@pytest.mark.parametrize("fork", ["csv", "poster", "kv_url"])
def test_batch_metrics_match_oracle_on_every_fork(spark, sf_dir, tmp_path, fork):
    from cybersecurity_ioc_etl_spark.operators.ioc_queries import ioc_table

    expected = {t: n for t, n, _ in _oracle(sf_dir, "ioc_type_counts")}
    out = str(tmp_path / fork)
    m, sunk = _run_fork(spark, sf_dir, out, fork)

    assert {t: n for t, n in m.items() if t not in ("n_iocs", "n_messages")} == expected
    assert m["n_iocs"] == sum(expected.values()) == sunk
    assert m["n_messages"] == ioc_table(spark, sf_dir).select("id").distinct().count()
    metrics = spark.read.parquet(f"{out}/metrics")
    assert dict(metrics.dtypes) == {
        "type": "string",
        "n_iocs": "bigint",
        "run_ts": "timestamp",
    }
    assert {r.type: r.n_iocs for r in metrics.collect()} == expected
    assert metrics.count() == len(expected)


@pytest.mark.parametrize("fork", ["csv", "poster", "kv_url"])
def test_batch_on_fully_filtered_feed_counts_zero(spark, sf_dir, tmp_path, fork):
    """Every 7th document gets a non-indicator subject; a feed of only
    those documents yields no message and no IOC, without error."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    docs = pq.read_table(f"{sf_dir}/documents.parquet")
    k = docs.schema.get_field_index("doc_id")
    sevens = docs.set_column(k, "doc_id", pc.multiply(docs["doc_id"], 7))
    feed_dir = tmp_path / "feed"
    feed_dir.mkdir()
    pq.write_table(sevens, str(feed_dir / "documents.parquet"))

    out = str(tmp_path / fork)
    m, sunk = _run_fork(spark, str(feed_dir), out, fork)
    assert m == {"n_iocs": 0, "n_messages": 0}
    assert sunk == 0
    assert spark.read.parquet(f"{out}/metrics").count() == 0
