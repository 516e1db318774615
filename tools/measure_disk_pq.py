"""One-off measurement: on DISK, does IVF-PQ's byte reduction buy
serving latency beyond float-packed partition pruning? (ISSUES #2
says PQ's win at 64-d is index bytes, not latency, "until dim and
corpus grow much larger" — this locates where the bytes win becomes a
latency win: cold storage, where scan time IS byte count.)

Method (bench ann_huge methodology, PQ leg added):
  1. inflate sf0.1 embeddings ×INFLATE (default 2048 → ~4M × 64-d)
  2. write three on-disk artifacts: flat parquet (~2.1 GB), the
     float64 packed IVF layout (512 clusters, cluster-partitioned),
     and the IVF-PQ packed layout (m=16, k=64 — same codec config as
     the ann_big section) SHARING the float layout's coarse quantizer
     so all three serve identical cluster geometry
  3. os.sync, then churn the page cache with the section's own heavy
     work (builds happen after the flat write, bench-style), recording
     the write→measure gap per artifact
  4. measure a q2 concentrated batch: PQ-ADC first, float-packed
     probe second, flat brute LAST (brute is the page-cache-sensitive
     side, same ordering rule as bench), then one warm repeat of each
  5. record du bytes, probed-cluster count, and PQ overlap@10 vs the
     brute truth on the same two queries

Run on a quiet box (the bench contention rules apply); results land
in ISSUES.md #2 / BENCH_NOTES.md, not the per-round record — the PQ
build at 4M is too heavy for the per-round wall.

Usage: python tools/measure_disk_pq.py [inflate] [clusters]
Prints one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

from bench import _du, _inflate_embeddings, _inflated_queries, _noop, _quiesce  # noqa: E402
from mcp_vector_search_spark import io as eio  # noqa: E402
from mcp_vector_search_spark.operators.ivf import (  # noqa: E402
    ivf_build_sampled,
    ivf_pack_fused,
    read_ivf_layout,
    ivf_topk_batch_packed,
    write_ivf_layout,
)
from mcp_vector_search_spark.operators.ivfpq import (  # noqa: E402
    ivfpq_build_packed,
    ivfpq_topk_packed,
)
from mcp_vector_search_spark.operators.kernel import collect_queries  # noqa: E402
from mcp_vector_search_spark.operators.layout import (  # noqa: E402
    read_ivfpq_layout,
    write_ivfpq_layout,
)
from mcp_vector_search_spark.operators.topk import topk_per_query_np  # noqa: E402
from mcp_vector_search_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def main() -> None:
    inflate = int(sys.argv[1]) if len(sys.argv) > 1 else 2048
    n_clusters = int(sys.argv[2]) if len(sys.argv) > 2 else 512
    out: dict = {"inflate": inflate, "clusters": n_clusters, "sf_dir": SF_DIR}
    spark = get_spark(
        app_name="measure_disk_pq", master=f"local[{CPUS}]",
        shuffle_partitions=int(CPUS),
    )
    emb = eio.table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    huge = _inflate_embeddings(spark, emb, inflate).cache()
    out["n_vectors"] = huge.count()
    huge_q = _inflated_queries(huge, inflate, 128).cache()
    huge_q.count()
    hq2 = huge_q.limit(2).cache()
    hq2.count()

    d = tempfile.mkdtemp(prefix="measure_disk_pq_")
    try:
        flat_p = f"{d}/flat"
        t0 = time.time()
        huge.select("vec_id", "embedding").write.parquet(flat_p)
        os.sync()
        flat_written = time.time()
        out["flat_write_sec"] = round(flat_written - t0, 1)

        # shared coarse quantizer: both layouts prune identical
        # physical partitions, so the PQ-vs-float delta is BYTES only
        assigned, cents = ivf_build_sampled(huge, num_clusters=n_clusters)
        t0 = time.time()
        packed = ivf_pack_fused(huge, cents)
        write_ivf_layout(packed, cents, f"{d}/packed_f64")
        out["float_build_write_sec"] = round(time.time() - t0, 1)

        t0 = time.time()
        pq_packed, pq_cents, pq_cbs = ivfpq_build_packed(
            huge, m=16, k_codes=64, coarse=(assigned, cents),
        )
        write_ivfpq_layout(pq_packed, pq_cents, pq_cbs, f"{d}/packed_pq")
        out["pq_build_write_sec"] = round(time.time() - t0, 1)
        os.sync()

        out["bytes_flat"] = _du(flat_p)
        out["bytes_packed_f64"] = _du(f"{d}/packed_f64")
        out["bytes_packed_pq"] = _du(f"{d}/packed_pq")

        # drop every cached frame so the measurements read DISK, and
        # give the builds' churn (the corpus crossed the heap several
        # times above) its eviction effect
        huge.unpersist()
        emb.unpersist()
        _quiesce(spark)

        flat_df = spark.read.parquet(flat_p)
        f64_df, f64_cents = read_ivf_layout(spark, f"{d}/packed_f64")
        adc_df, adc_cents, adc_cbs = read_ivfpq_layout(spark, f"{d}/packed_pq")
        probe = collect_queries(hq2, centroids=f64_cents, nprobes=20).probes
        out["q2_probed_clusters"] = len(probe)
        out["gap_since_flat_write_sec"] = round(time.time() - flat_written, 1)

        # cold-ish passes: PQ → float-packed → brute LAST
        t0 = time.time()
        pq_rows = ivfpq_topk_packed(adc_df, adc_cents, adc_cbs, hq2, 10, nprobes=20)
        pq_hits = {(r.query_id, r.vec_id) for r in pq_rows.collect()}
        out["disk_pq_adc_q2_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(ivf_topk_batch_packed(f64_df, f64_cents, hq2, 10, nprobes=20))
        out["disk_packed_q2_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        truth_rows = topk_per_query_np(flat_df, hq2, 10)
        truth = {(r.query_id, r.vec_id) for r in truth_rows.collect()}
        out["disk_brute_q2_sec"] = round(time.time() - t0, 3)
        out["pq_overlap_at_10_q2"] = round(len(pq_hits & truth) / max(len(truth), 1), 3)

        # warm repeats: the page-cache-independent floor of each path
        t0 = time.time()
        _noop(ivfpq_topk_packed(adc_df, adc_cents, adc_cbs, hq2, 10, nprobes=20))
        out["warm_pq_adc_q2_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(ivf_topk_batch_packed(f64_df, f64_cents, hq2, 10, nprobes=20))
        out["warm_packed_q2_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(topk_per_query_np(flat_df, hq2, 10))
        out["warm_brute_q2_sec"] = round(time.time() - t0, 3)
    finally:
        shutil.rmtree(d, ignore_errors=True)
    print(json.dumps(out))


if __name__ == "__main__":
    main()
