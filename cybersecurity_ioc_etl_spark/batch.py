"""The reference's batch entry point (`h-isac.py main()`, lines 141-180)
as ONE assembled engine job — the end-to-end workflow a migrating user
runs instead of `python3 h-isac.py <folder> [--splunk cfg]`.

Stage map (SURVEY §3.1 trace → engine), one pass over the feed:
  get_messages + Restrict       → feed scan with Catalyst pushdown
  subject filter + parse loop   → ioc_messages (filter → cut → extract),
                                  observed: per-type IOC counts and the
                                  messages with at least one IOC
                                → ioc_rows (explode)
  push_to_splunk | to_csv fork  → write_kv_batched | splunkkv | write_csv,
                                  the one data action; the observation
                                  fires on it
  metrics update + state file   → append_metrics of the observed counts
                                  (a literal frame, no re-scan)

Nothing is cached and nothing is counted after the sink: the run metrics
ride the sink write (``DataFrame.observe``).

Divergences fixed (SURVEY §4.3): both sinks work independently (the
reference crashed when --splunk was omitted, h-isac.py:210); metrics
count PARSED feed items, not restricted ones (h-isac.py:176); state
lives in an append-only table instead of a stamp-then-overwrite JSON
file.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from typing import Any

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .functions.ioc import IOC_TYPES
from .operators.ioc_queries import ioc_messages, ioc_rows
from .sinks.kv import append_metrics, write_csv, write_kv_batched


def run_hisac_batch(
    spark: SparkSession,
    sf_dir: str,
    out_dir: str,
    poster: Callable[[list[str]], Any] | None = None,
    kv_url: str | None = None,
) -> dict[str, int]:
    """Run the full batch pipeline; returns the run metrics.

    ``poster`` given → KV sink (batched, partition-parallel);
    ``kv_url`` given → the first-class splunkkv sink (CLI ``--splunk``
    fork, config-validated per S10); otherwise → CSV under ``out_dir``
    (the reference's fork at h-isac.py:164-168, minus its crash when
    the flag is absent).  Metrics append to ``{out_dir}/metrics``
    either way, one row per IOC type present.
    """
    obs = Observation("hisac_batch")
    sizes = [F.array_size(t) for t in IOC_TYPES]
    msgs = ioc_messages(spark, sf_dir).observe(
        obs,
        *(F.sum(n).alias(t) for t, n in zip(IOC_TYPES, sizes)),
        F.count_if(F.greatest(*sizes) > 0).alias("n_messages"),
    )
    iocs = ioc_rows(msgs)
    if poster is not None:
        write_kv_batched(iocs, poster)
    elif kv_url is not None:
        iocs.write.format("splunkkv").option("url", kv_url).mode("append").save()
    else:
        write_csv(iocs, os.path.join(out_dir, "iocs_csv"), single_file=False)
    got = obs.get
    per_type = {t: got[t] for t in IOC_TYPES if got[t]}
    counts = F.array(
        *(
            F.struct(
                F.lit(t).alias("type"), F.lit(got[t] or 0).cast("bigint").alias("n_iocs")
            )
            for t in IOC_TYPES
        )
    )
    append_metrics(
        spark.range(1, numPartitions=1).select(F.inline(counts)).filter("n_iocs > 0"),
        os.path.join(out_dir, "metrics"),
    )
    return {"n_iocs": sum(per_type.values()), "n_messages": got["n_messages"], **per_type}
