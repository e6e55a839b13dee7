"""Streaming ingest BUILD-cost probe (VERDICT r9 #5): time the
per-epoch work the three streaming-maintenance paths pay at flush —
the serve side is already measured flat (PLANS.md round-9:
bm25_stream_index 1.23s / ann_stream_store 1.34s at 100×), this pins
the other half of the lifecycle at derived decades.

One component per PROCESS (fresh session — session aging inflated
prior 100× readings 3-14×, PLANS.md round-4 protocol), runlocked:

    python tools/ingest_build_probe.py index  /tmp/memfuse_sf1
    python tools/ingest_build_probe.py vector /tmp/memfuse_sf1
    python tools/ingest_build_probe.py dedup  /tmp/memfuse_sf1

Each run slices the corpus into 3 md5 epochs (the q_bm25_stream_index
/ q_ann_stream_store fixture rule) + one REPLAY of epoch 1, times each
foreachBatch-equivalent epoch write, and prints one JSON line:
{component, sf_dir, rows, epoch_secs: [...], replay_sec, total_sec}.
The amortization claim under test: epoch cost tracks the EPOCH's rows
(plus, for dedup, the candidate join against the accumulated index),
not the accumulated corpus — so per-epoch cost stays ~flat as history
grows and scales linearly in slice size across decades.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")


def _epoch_col(F, tag: str, id_col: str):
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit(tag), F.col(id_col).cast("string"))), 1, 8
            ),
            16,
            10,
        ).cast("long")
        % 3
    )


def main() -> int:
    from tools.runlock import acquire_run_lock

    component, sf_dir = sys.argv[1], sys.argv[2]
    _lock = acquire_run_lock("ingest_build_probe")  # noqa: F841

    from pyspark.sql import functions as F

    from memfuse_spark.session import get_spark

    spark = get_spark("ingest-build-probe")
    base = tempfile.mkdtemp(prefix=f"mfs_ingest_probe_{component}_")
    secs: list[float] = []
    try:
        if component == "index":
            from memfuse_spark.catalog import load_table
            from memfuse_spark.streaming.buffer import write_index_epoch

            docs = load_table(spark, sf_dir, "documents")
            rows = docs.count()
            eo = _epoch_col(F, "si", "doc_id")
            for e in (0, 1, 2, 1):
                t0 = time.time()
                write_index_epoch(docs.filter(eo == (e % 3)), base, e % 3)
                secs.append(round(time.time() - t0, 2))
        elif component == "vector":
            from memfuse_spark.catalog import load_table
            from memfuse_spark.streaming.buffer import write_vector_epoch

            emb = load_table(spark, sf_dir, "embeddings").filter(
                F.col("embedding").isNotNull()
            )
            rows = emb.count()
            dim = emb.select(F.size("embedding")).first()[0]
            eo = _epoch_col(F, "vse", "vec_id")
            for e in (0, 1, 2, 1):
                t0 = time.time()
                write_vector_epoch(
                    emb.filter(eo == (e % 3)), base, e % 3, dim=dim, num_planes=4
                )
                secs.append(round(time.time() - t0, 2))
        elif component == "dedup":
            # incremental near-dup over an epoch store, epoch by epoch:
            # batch signed/banded, candidates = batch×index equi-join +
            # within-batch, index absorbed after each epoch
            from memfuse_spark.catalog import load_table
            from memfuse_spark.operators.dedup import incremental_neardup_pairs
            from memfuse_spark.streaming.buffer import read_epochs, write_epoch

            docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
            rows = docs.count()
            eo = _epoch_col(F, "dd", "doc_id")
            seen_epochs: set[int] = set()
            for e in (0, 1, 2, 1):
                e %= 3
                batch = docs.filter(eo == e)
                seen = docs.filter(eo.isin(*(seen_epochs | {e})))
                idx_path = os.path.join(base, "index")
                if seen_epochs:
                    # later epochs MUST see the accumulated index — a
                    # silent empty-index fallback here would measure the
                    # candidate join against nothing and report a
                    # wrongly-flat epoch time as scaling evidence
                    index = read_epochs(spark, idx_path).filter(
                        F.col("epoch_id") != e
                    ).select("doc_id", "band", "bucket")
                else:
                    index = spark.createDataFrame(
                        [], "doc_id long, band int, bucket string"
                    )
                t0 = time.time()
                pairs, new_rows = incremental_neardup_pairs(batch, seen, index)
                (
                    pairs.write.mode("overwrite").format("noop").save()
                )
                write_epoch(new_rows, idx_path, e)
                secs.append(round(time.time() - t0, 2))
                seen_epochs.add(e)
        else:
            raise SystemExit(f"unknown component {component!r}")
        print(
            json.dumps(
                {
                    "component": component,
                    "sf_dir": sf_dir,
                    "rows": rows,
                    "epoch_secs": secs[:3],
                    "replay_sec": secs[3],
                    "total_sec": round(sum(secs), 2),
                }
            ),
            flush=True,
        )
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
