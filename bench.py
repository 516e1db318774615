"""Benchmark harness: runs the headline registry queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:
{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is forced end-to-end with a noop-sink write (computes every
column; .count() would let Catalyst prune the expensive expressions).

Section isolation (r8): each major section runs in its OWN subprocess
Spark session. Rounds 5-7 documented 2-4x inflation of mid/late-bench
sections from G1 humongous-region fragmentation and old-gen debris left
by earlier sections (BENCH_NOTES; the official BENCH_r07.json published
hybrid_scale qps at 1/3 of the same-day isolated value — VERDICT r7
"What's wrong" #1). A fresh JVM per section pays JIT once per section
(the best-of-2 methodology absorbs it for the in-memory points) but
makes the LAST run of a round as reproducible as an isolated recheck —
the official record and the isolated band are now the same population.
Set SPARK_GRAFT_BENCH_INPROC=1 for the old single-session behavior, or
run one section directly with `python bench.py --section <name>`.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

BENCH_NPROBES = 36
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Compact-line length guard. The driver captures the LAST 2000 chars of
# stdout and parses the final JSON line, so the line survives whole iff
# it is under that window (BENCH_r12.json: tail field = exactly 2000
# chars, the 1486-char compact line rode whole). The historical 1500
# guard was conservative enough that the r12 run shed three
# band-tracked DATA rows to stay under it (VERDICT r12 #2 sanctioned
# raising it); 1900 keeps a 100-char margin for the newline/driver
# framing while fitting every tracked row plus the stamp lists.
COMPACT_GUARD = 1900

# round-6 metrics that must survive into the compact last-line summary.
# The emitter SHEDS from the TAIL of this list when section flags push
# the line past the driver's 1500-char tail window (no assert since
# r9) — order keys by importance, and check the full record if a new
# key doesn't appear in the compact line.
# Order = shed priority, LAST keys shed FIRST when flags crowd the
# 1500-char compact line (r10: a flag-heavy run shed 8 keys and the
# tail happened to hold the verdict-graded rows — curate, the disk
# pair, the delta upsert — so the graded rows now sit at the front
# and the secondary 256-d/route diagnostics at the sheddable tail).
EXTRA_COMPACT_KEYS = [
    "hybrid_rrf_warm_served",
    "hybrid_batch_tbl_qps",
    "hybrid_batch_ann_qps",
    "hybrid_scale_tbl_qps",
    "hybrid_scale_ann_qps",
    # r12 (VERDICT r11 #7): the adversarial hot-shard serving row and
    # its uniform control
    "hybrid_scale_skew_qps",
    "hybrid_scale_vec_uniform_qps",
    # r10 (VERDICT r9 #7): the composed curation pipeline wall row
    "curate_sf01_sec",
    "bm25_update_delta_sec",
    "ann_huge_disk_brute_q2_sec",
    "ann_huge_disk_packed_q2_sec",
    # r11 (VERDICT r10 #5): the pruning claim itself, band-labeled
    "ann_huge_disk_prune_ratio",
    "ann_huge_brute_sec",
    "ann_huge_ivf_sec",
    "ann_huge_ivf_f32_sec",
    "ann_huge_ivf_build_sec",
    "ann_huge_recall_at_10",
    "ann_big_ivfpq_fused_build_sec",
    # r9: the regime-router row (VERDICT r8 #2) — auto must track the
    # brute time at the cached sub-crossover 512K corpus. The string
    # *_choice rows and the 512K disk-q2 pair live in the FULL record
    # only: the compact line overflowed its 1500-char tail guard with
    # them once the section flags joined it, and the 512K disk points
    # sit at the job-overhead floor anyway (the 4M pair is the claim).
    "ann_big_auto_route_sec",
    # (the q8 256-d pair and the 512K disk-q2 pair moved to the full
    # record only — compact-line headroom for the r9 section flags)
    "ann_big256_q2_ivf_sec",
    "ann_big256_q2_brute_sec",
]

# --- shared-box contention defense (r9, VERDICT r8 #1). The r8
# official record was produced during neighbor contention (loadavg
# 11.5; hybrid_scale_tbl 7.56 qps vs the 33.5-50.2 isolated band) and
# nothing in the record said so. Every section now times a fixed
# CPU canary (threaded-BLAS matmul — the same resource our kernels
# contend for) before its Spark session starts and after its work
# ends; the orchestrator compares both against a bench-start baseline.
# A flagged serving section is re-run ONCE (first-run serving rows
# preserved under *_run1); a still-flagged section stamps
# section_<name>_contended into the record and the compact line, so a
# reader can never mistake a contended population for a clean one.
# loadavg is recorded for diagnosis but NOT used to decide: between
# back-to-back sections the 1-minute average still carries OUR OWN
# previous section's load, while the canary runs when nothing of ours
# is active.
CANARY_RATIO_MAX = 1.5

# sections eligible for the one automatic re-run, with the first-run
# rows worth preserving when the re-run supersedes them: the serving
# sections (the r8 failure) plus ann_big, whose in-memory rows are
# cross-round compared and read inflated in the first r9 run when a
# flagged-contended window hit exactly its first measurements
RETRY_ON_CONTENTION = {
    "core": [
        "hybrid_rrf_warm_served",
        "hybrid_warm_served_runs",
        "hybrid_batch_tbl_qps",
        "hybrid_batch_tbl_runs",
        "hybrid_batch_ann_qps",
        "hybrid_batch_ann_runs",
        # r10: the newly stability-covered serving rows (VERDICT r9 #1)
        "bm25_topk_warm",
        "bm25_topk_warm_runs",
        "hybrid_rrf_warm",
        "hybrid_rrf_warm_runs",
        "hybrid_batch_qps",
        "hybrid_batch_runs",
        "bm25_update_delta_sec",
        "bm25_update_delta_runs",
    ],
    "curate": [
        "curate_sf01_sec",
        "curate_sf01_runs",
    ],
    "hybrid_scale": [
        "hybrid_scale_tbl_qps",
        "hybrid_scale_tbl_runs",
        "hybrid_scale_ann_qps",
        "hybrid_scale_ann_runs",
        # r12: the hot-shard pair is serving-only — re-measured by the
        # reuse retry like its siblings
        "hybrid_scale_skew_qps",
        "hybrid_scale_skew_runs",
        "hybrid_scale_vec_uniform_qps",
        "hybrid_scale_vec_uniform_runs",
    ],
    "ann_big": [
        "ann_big_brute_sec",
        "ann_big_brute_runs",
        "ann_big_ivf_sec",
        "ann_big_ivf_runs",
        "ann_big_auto_route_sec",
    ],
}

# Isolated-band provenance check (r9 runs 5-6): SUSTAINED neighbor
# load that depresses every run of a serving row consistently passes
# both the canary bracket (clean section boundaries) and the
# stability test (the runs agree with each other) — in-run it is
# indistinguishable from a slow engine. What the record CAN do is
# disagree with itself loudly: a published row landing outside the
# same-day isolated band by >1.5x stamps
# `<row>_outside_band: [value, low, high]` into the record and the
# compact line. A label, not a retry: the row stays official, the
# reader knows which population produced it. Direction matters —
# qps rows flag LOW (contention depresses them), seconds rows flag
# HIGH. Rows beating their band are left alone (warm caches and a
# quiet box legitimately land above).
#
# r10 (VERDICT r9 #2): the bands are no longer source constants —
# they live in BANDS.json beside this file, regenerated each round
# from the round's clean standalone section runs with provenance
# (round, date, source runs). A bands file from another round is
# REFUSED at bench start: after a hardware change or a real perf
# shift, stale bands would stamp legitimate rows (or stop catching
# contention), and nothing in the stamp would say so.
BANDS_FILE = os.path.join(
    os.path.dirname(os.path.abspath(__file__)), "BANDS.json"
)
BANDS_EXPECTED_ROUND = 13
BAND_RATIO = 1.5

# --- global wall-clock budget (r11, VERDICT r10 #1). BENCH_r10.json is
# rc=124 parsed:null because the contention-retry machinery pushed the
# run past the driver's outer timeout (ann_big 1468 s with retry,
# hybrid_scale 1170 s, curate mid-retry at ~3100 s elapsed) and the
# one-shot final emission lost every measured row. Two structural
# fixes: (a) the orchestrator tracks elapsed-vs-budget and SKIPS any
# section or retry that cannot fit (stamping
# section_<name>_skipped_budget / section_<name>_retry_skipped_budget
# with [estimated_cost, remaining] so the record says why a row is
# absent or unretried); (b) the merged record is emitted after EVERY
# section — the driver parses the LAST JSON line, so each emission
# supersedes the previous and a kill loses only the in-flight section,
# never the run.
BENCH_BUDGET_SEC = float(os.environ.get("SPARK_GRAFT_BENCH_BUDGET_SEC",
                                        "3300"))
# Per-section single-run wall estimates, seconds — deliberately the
# WORST-CASE (contended) walls observed in r9/r10 (BENCH_NOTES: r10
# contended singles ann_big ~730 s / hybrid_scale ~585 s; clean r9
# full runs were 859-1209 s total), so the pre-section fit check
# refuses work that only fits if the box stays clean. A retry's
# estimate is max(table, the first run's ACTUAL wall) — the measured
# wall of the same section minutes earlier is the best predictor.
SECTION_EST_SEC = {
    "core": 450.0,
    "ann_small": 150.0,
    "ann_big": 740.0,
    # r11 observed worst walls under the hypervisor-wave mode
    # (BENCH_NOTES r11): hybrid_scale 850.7/927.2, ann_huge 763 —
    # the estimates track the slowest single run seen, so a fit check
    # passes only when the section could complete even if the waves
    # stay. The sum exceeding the budget is intentional: under
    # sustained worst-case, the tail sections skip-with-stamp instead
    # of the whole record dying (the r10 failure).
    "hybrid_scale": 930.0,
    "curate": 250.0,
    "ann_huge": 770.0,
    "sf1": 250.0,
}
DEFAULT_SECTION_EST_SEC = 300.0
# Sections that persist their expensive built artifacts (×256 corpus,
# packed IVF layout, BM25 postings index) into an orchestrator-owned
# reuse dir on their first run, so a contention retry re-measures ONLY
# the serving rows instead of repeating ~400 s of builds (r11, VERDICT
# r10 #4). The retry's budget estimate drops accordingly.
REUSE_SECTIONS = ("ann_big", "hybrid_scale")
# hybrid_scale's serving-only retry re-measures the r12 hot-shard pair
# too (~+40 s over the r11 shape)
RETRY_EST_SEC = {"ann_big": 330.0, "hybrid_scale": 370.0}


def _load_bands() -> dict:
    """The isolated-band artifact: {"round", "date", "source_runs",
    "qps": {row: [lo, hi]}, "sec": {row: [lo, hi]}} — refusing stale
    provenance with a clear error instead of silently mis-stamping."""
    try:
        with open(BANDS_FILE) as f:
            bands = json.load(f)
    except FileNotFoundError:
        raise RuntimeError(
            f"missing {BANDS_FILE}: regenerate it from this round's clean "
            "standalone section runs (BENCH_NOTES documents them) before "
            "publishing a record"
        )
    if bands.get("round") != BANDS_EXPECTED_ROUND:
        raise RuntimeError(
            f"BANDS.json carries round {bands.get('round')!r} bands but "
            f"bench.py expects round {BANDS_EXPECTED_ROUND}: stale bands "
            "stamp legitimate rows after a perf shift (or miss real "
            "contention) — regenerate BANDS.json from this round's clean "
            "standalone runs and bump its round field"
        )
    return bands


def stamp_band_outliers(merged: dict, bands: dict | None = None) -> None:
    """Label rows that contradict their documented isolated band —
    the sustained-contention population the in-run defenses cannot
    see (run-5/6 blind spot). Band provenance rides in the record so
    a reader knows WHICH round's population the bands describe."""
    if bands is None:
        bands = _load_bands()
    # "qps" rows flag LOW only (contention depresses them; beating the
    # band high-side is legitimately a warm cache / quiet box).
    # r13: stamps are recomputed BOTH ways — a deferred contention
    # retry (commit a2be984) overlays a banded row's value AFTER the
    # first emissions stamped the contended run-1 reading, so a stamp
    # whose row is back in band must be REMOVED, not just left to
    # idempotent re-add (the run-1 reading survives under <row>_run1).
    for row, (lo, hi) in bands.get("qps", {}).items():
        v = merged.get(row)
        if not isinstance(v, (int, float)):
            continue
        if v < lo / BAND_RATIO:
            merged[f"{row}_outside_band"] = [v, lo, hi]
        else:
            merged.pop(f"{row}_outside_band", None)
    # "ratio" rows flag BOTH sides (r12, r11 ADVICE low): a ratio's
    # failure mode is two-sided — a contention wave hitting only the
    # numerator side (e.g. the cold-brute scan of the pruning pair)
    # INFLATES the ratio, and the warm-cache justification for
    # high-side leniency on qps rows does not apply to a cold pair.
    # An unflagged wave-inflated headline pruning claim is worse than
    # an unflagged depressed one.
    for row, (lo, hi) in bands.get("ratio", {}).items():
        v = merged.get(row)
        if not isinstance(v, (int, float)):
            continue
        if v < lo / BAND_RATIO or v > hi * BAND_RATIO:
            merged[f"{row}_outside_band"] = [v, lo, hi]
        else:
            merged.pop(f"{row}_outside_band", None)
    for row, (lo, hi) in bands.get("sec", {}).items():
        v = merged.get(row)
        if not isinstance(v, (int, float)):
            continue
        if v > hi * BAND_RATIO:
            merged[f"{row}_outside_band"] = [v, lo, hi]
        else:
            merged.pop(f"{row}_outside_band", None)
    merged["bands_provenance"] = {
        "round": bands.get("round"),
        "date": bands.get("date"),
        "source_runs": bands.get("source_runs"),
    }


def _drop_page_cache() -> bool:
    """Evict the OS page cache so a "cold storage" read is actually
    cold (r11). With 128 GiB RAM the ~2.1 GB flat corpus NEVER leaves
    the cache naturally — the disk-brute side of the 4M pruning pair
    read either page-cache-warm (~2.5 s) or neighbor-wave-hit
    (10-27 s), bimodal across r9-r11 runs, and the r10 band spanned
    6.7x because of it. A real eviction makes the pair measure what
    the 100 TB claim actually prices: cold-scan bytes vs partition-
    pruned bytes. Container-root only; returns False (and the pair
    keeps its legacy gap-controlled population, flagged in-record)
    where /proc/sys/vm/drop_caches is not writable.

    The write evicts the page cache HOST-WIDE (shared kernel in a
    container) — hostile to co-tenants and it perturbs the canary /
    neighbor-load population the bench's own contention defense
    measures (r11 ADVICE low). So the drop is gated: on by default
    only inside the orchestrated official run (the orchestrator sets
    SPARK_GRAFT_BENCH_ORCHESTRATED=1 in section subprocess envs);
    standalone `--section` runs skip it unless the operator opts in
    with SPARK_GRAFT_DROP_CACHES=1. SPARK_GRAFT_DROP_CACHES=0
    disables it everywhere."""
    flag = os.environ.get("SPARK_GRAFT_DROP_CACHES", "")
    if flag == "0":
        return False
    if flag != "1" and not os.environ.get("SPARK_GRAFT_BENCH_ORCHESTRATED"):
        return False
    try:
        os.sync()
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("1")
        return True
    except OSError:
        return False


def _canary_sec() -> float:
    """Fixed-size matmul wall time, best of 3 — deterministic input,
    no Spark, no JVM: inflation here can only mean the box's CPUs are
    busy with something that isn't us."""
    import numpy as np

    a = np.full((1536, 1536), 0.5)
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        (a @ a).sum()
        best = min(best, time.perf_counter() - t0)
    return round(best, 4)


def _loadavg1() -> float:
    try:
        return round(os.getloadavg()[0], 2)
    except OSError:  # pragma: no cover — not available on some OSes
        return -1.0


def _canary_contended(qrec: dict, baseline: float) -> bool:
    """True when either of a section's canaries ran >CANARY_RATIO_MAX
    slower than the bench-start baseline."""
    vals = [
        qrec.get("sect_canary_start_sec"), qrec.get("sect_canary_end_sec")
    ]
    vals = [v for v in vals if v is not None]
    return bool(vals) and baseline > 0 and max(vals) > CANARY_RATIO_MAX * baseline


HEADLINE = [
    "bm25_topk",
    "knn_topk",
    "knn_batch",
    "hybrid_rrf",
    "minhash_jaccard",
    "neighbor_jaccard",
    "text_quality",
    "chunk_windows",
    "events_hourly",
    "sessionize",
    "graph_degree",
    "bfs",
    "pricing_summary",
    "revenue_by_nation",
]

# shared query-term pool for every batch-hybrid section (identical
# batches across sections and rounds keep the qps rows comparable)
_POOL = [
    ["data", "query", "fast", "vector"], ["window", "merge", "sort"],
    ["stream", "filter", "data"], ["index", "hash", "join"],
    ["cache", "memory", "fast"], ["search", "rank", "score"],
    ["parse", "token", "text"], ["graph", "node", "edge"],
]

SCALE_QS = ["bm25_topk", "minhash_jaccard", "text_quality", "dup_clusters", "bfs"]

# subprocess execution order — one fresh JVM each (see module docstring)
SECTION_ORDER = [
    "core", "ann_small", "ann_big", "hybrid_scale", "curate", "ann_huge",
    "sf1",
]


def _tiny_dir() -> str:
    return os.path.join(os.path.dirname(SF_DIR.rstrip("/")), "sf0.001")


def _get_spark():
    # the 4M decade caches ~7 GB across corpora+layouts; under the 16g
    # default heap the f64 packed runs thrash the block cache (2-6x
    # erratic). Xmx is a cap, not an allocation — size it to the bench
    # working set (the 128 GiB box). Explicit env still wins.
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "64g")
    from mcp_vector_search_spark.session import get_spark

    spark = get_spark(app_name="bench")
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _quiesce(spark) -> None:
    # JVM old-gen garbage and G1 humongous-region fragmentation from
    # preceding jobs caused 2-4x swings ON TOP of Arrow-kernel JIT
    # noise (isolated re-runs show a tight band — BENCH_NOTES r5). One
    # explicit collection before each measurement set separates the
    # operator's cost from the session's debris. Still worthwhile
    # WITHIN a section even now that sections are subprocess-isolated:
    # a section's own cache build leaves young-gen debris too.
    import gc as _gc

    _gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(0.5)


def _runs_of(spark, n_runs, fn):
    # steady-state for in-memory points: the first run of an Arrow
    # kernel pays codegen/JIT and whatever GC the cache build left
    # behind — r3→r4 showed 2.4x run-to-run swings on these entries
    # with zero code change (BENCH_NOTES). ALL runs are recorded
    # (VERDICT r4 #1's gate is "faster on BOTH runs"); the headline
    # value stays the min, which measures the plan, not the session's
    # mood.
    _quiesce(spark)
    runs = []
    for _ in range(n_runs):
        t0 = time.time()
        fn()
        runs.append(round(time.time() - t0, 3))
    return runs


STABLE_RATIO = 1.5


def _is_stable(runs, ratio=STABLE_RATIO) -> bool:
    """Steady state confirmed: the TWO SMALLEST runs agree within
    `ratio`. Two agreeing fast runs pin the plan's cost no matter how
    many outliers sit above them — a max/min test over all runs can
    never re-stabilize once one transient is recorded (r9 review)."""
    if len(runs) < 2:
        return False
    lo1, lo2 = sorted(runs)[:2]
    return lo2 / max(lo1, 1e-9) <= ratio


def _runs_until_stable(spark, n_runs, fn, max_runs=4, ratio=STABLE_RATIO):
    """`_runs_of`, extended while `_is_stable` says the runs disagree:
    a transient (GC, page reclaim, a neighbor's burst) that hits the
    early runs costs one more run to ride out, where a best-of-2 whose
    BOTH runs were hit publishes the transient as the official number
    with no flag (r9 run-3: hybrid_scale_ann runs [37.3, 19.9] on a
    clean-canary box vs the 6-8 s band — the mid-section window the
    start/end canary bracket cannot see). A PERSISTENTLY slow point
    still shows itself: all runs land slow, and all are recorded.
    Callers should stamp `<row>_unstable` when the returned runs still
    fail `_is_stable` — a cap-exhausted row is a population caveat."""
    runs = _runs_of(spark, n_runs, fn)
    while not _is_stable(runs, ratio) and len(runs) < max_runs:
        runs += _runs_of(spark, 1, fn)
    return runs


def _best_of(spark, n_runs, fn):
    return min(_runs_of(spark, n_runs, fn))


def _warm_session(spark, tables=("lineitem", "documents", "embeddings",
                                 "events", "part", "orders")) -> None:
    """Generic per-subprocess warmup: touch parquet footers of the
    input tables and run one tiny shuffle so codegen/exchange machinery
    is JIT-compiled before the first timed query."""
    from mcp_vector_search_spark import io as warm_io

    for t in tables:
        warm_io.table(spark, SF_DIR, t).limit(1).count()
    warm = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    _noop(warm.groupBy("l_returnflag").count())


def _warm_codegen(spark, names) -> None:
    """Execute the named registry plans once at sf0.001 so the timed
    runs measure EXECUTION at SF_DIR, not the one-time whole-stage-
    codegen/JIT compile of the widest expression trees (first-run vs
    steady-state gaps of 2-6x on minhash / text_quality / bm25 —
    BENCH_NOTES). Same expressions → same generated code → the sf0.1
    run hits the compiled cache."""
    tiny = _tiny_dir()
    if not os.path.isdir(tiny):
        return
    from mcp_vector_search_spark.registry import SPARK_QUERIES

    for name in names:
        try:
            _noop(SPARK_QUERIES[name](spark, tiny))
        except Exception:
            pass  # warmup is best-effort; the timed run will tell


# --- deterministic corpus inflation (shared by the ANN scale sections) --

def _perturb(x, i):
    from pyspark.sql import functions as F

    # deterministic per-(vector, variant, dim) offset; variant 0 is
    # the original so every query's exact site exists in the corpus
    wob = F.sin(F.col("variant") * 131.0 + F.col("vec_id") * 17.0 + i)
    return x + F.when(F.col("variant") == 0, F.lit(0.0)).otherwise(0.02 * wob)


def _inflate_embeddings(spark, emb, inflate):
    """The ×N deterministically-perturbed corpus (each vector gets N-1
    tightly-perturbed variants — the clustered structure real embedding
    corpora have). Returns the UNCACHED frame; callers cache+count.

    r7: REPARTITION the inflated corpus before the heavy projection.
    sf0.1's embeddings.parquet is one ~800 KB file = ONE scan
    partition, and broadcast-crossJoin inheritance kept the whole
    inflated corpus in that single partition — every full-corpus Arrow
    kernel ran on ONE core while the packed layout (32 shuffle
    partitions from groupBy) probed on all of them. The pre-r7
    brute-vs-ivf comparisons were parallelism-asymmetric; a real
    100 TB corpus is never one partition. The repartition goes BEFORE
    the sin-heavy projection: the shuffle moves the same bytes either
    way, but the transform then runs on every core instead of inside
    the single source partition.
    """
    from pyspark.sql import functions as F

    variants = F.broadcast(
        spark.range(inflate).select(F.col("id").cast("int").alias("variant"))
    )
    _ncpu = spark.sparkContext.defaultParallelism
    return (
        emb.select("vec_id", "embedding")
        .crossJoin(variants)
        .repartition(_ncpu)
        .withColumn("pert", F.transform("embedding", _perturb))
        .select(
            (F.col("vec_id") * inflate + F.col("variant")).cast("long").alias(
                "vec_id"
            ),
            F.col("pert").alias("embedding"),
        )
    )


def _inflated_queries(big, inflate, n):
    """`n` original-site queries from the inflated corpus (variant 0,
    every 7th source id), cached+counted by the caller."""
    from pyspark.sql import functions as F

    return (
        big.filter((F.col("vec_id") % inflate == 0) & (F.col("vec_id") % 7 == 0))
        .limit(n)
        .select(
            F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
        )
    )


def _caesar_shift_expr(col_name, n_variants, variant_col):
    """Per-variant caesar-shifted text expression (token boundaries and
    lengths unchanged, so per-row work is identical and variants do NOT
    become near-dups of each other — which would quadratically distort
    LSH pair counts)."""
    from pyspark.sql import functions as F

    lo = "abcdefghijklmnopqrstuvwxyz"
    up = lo.upper()
    shifted = F.col(col_name)
    for i in range(1, min(n_variants, 26)):
        tgt = lo[i:] + lo[:i] + up[i:] + up[:i]
        shifted = F.when(
            F.col(variant_col) % 26 == i, F.translate(col_name, lo + up, tgt)
        ).otherwise(shifted)
    return shifted


# ----------------------------------------------------------------------
# Sections
# ----------------------------------------------------------------------

def sec_core(spark, per_query, mark):
    """Headline queries, warm/batch serving, BM25 index lifecycle,
    bucketed join, curation ops — the small-SF sections."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.registry import QUERY_TERMS, SPARK_QUERIES

    _warm_codegen(spark, HEADLINE)
    # r9 (VERDICT r8 #7): the heaviest headline plans get a SECOND
    # untimed sf0.001 pass — one execution compiles their widest
    # stages at the C1 tier, and the timed sf0.1 run was paying the
    # C2 escalation (+8-29% headline drift in the cold-subprocess r8
    # record). Two passes at sf0.001 cost ~2 s; the timed rows keep
    # their cold-at-SF_DIR data semantics.
    _warm_codegen(
        spark, ["minhash_jaccard", "bfs", "neighbor_jaccard", "hybrid_rrf"]
    )
    mark("warmup")

    # (the official headline total is derived from these keys in ONE
    # place, _total_of — do not re-accumulate it here, r8 review)
    for name in HEADLINE:
        fn = SPARK_QUERIES[name]
        t0 = time.time()
        _noop(fn(spark, SF_DIR))
        per_query[name] = round(time.time() - t0, 3)
    mark("headline")

    # warm serving: prime the cached-index build once (untimed), then
    # measure what any DIFFERENT query costs against the in-session
    # cache — the SparkProject._bm25 serving shape. (The cold headline
    # bm25_topk above is the one-shot zero-shuffle path and builds no
    # cache.)
    from mcp_vector_search_spark.operators.bm25 import bm25_topk as _bm25_topk

    docs_w = eio.table(spark, SF_DIR, "documents")
    _noop(_bm25_topk(docs_w, QUERY_TERMS, 20, cache_index=True))
    # r10 (VERDICT r9 #1): stability-retried — the r9 official record
    # published this row at 5.59 s (vs ~1.2 clean) from one run that a
    # neighbor-load wave hit, with no in-record flag. Same query each
    # run: the postings cache is what's being measured, and Spark
    # re-executes the plan every time (no result cache).
    per_query["bm25_topk_warm_runs"] = _runs_until_stable(
        spark, 2,
        lambda: _noop(_bm25_topk(docs_w, ["window", "merge"], 20,
                                 cache_index=True)),
        max_runs=3,
    )
    per_query["bm25_topk_warm_unstable"] = not _is_stable(per_query["bm25_topk_warm_runs"])
    per_query["bm25_topk_warm"] = min(per_query["bm25_topk_warm_runs"])

    # warm hybrid serving: a second hybrid query in the same session
    # reuses the postings cache, so this is what interactive search
    # actually costs after the first query
    from mcp_vector_search_spark.plans.hybrid import hybrid_search as _hybrid

    emb_w = eio.table(spark, SF_DIR, "embeddings")
    qv_w = emb_w.filter(F.col("vec_id") == 3).select(
        F.col("embedding").alias("query_vec")
    )
    # r10 (VERDICT r9 #1): stability-retried — r9 published 17.6 s
    # (vs ~2.6 clean) unflagged from this row's single run
    per_query["hybrid_rrf_warm_runs"] = _runs_until_stable(
        spark, 2,
        lambda: _noop(_hybrid(
            docs_w, emb_w, ["window", "merge"], qv_w, k=10, alpha=0.7,
            bm25_cache_index=True,
        )),
        max_runs=3,
    )
    per_query["hybrid_rrf_warm_unstable"] = not _is_stable(per_query["hybrid_rrf_warm_runs"])
    per_query["hybrid_rrf_warm"] = min(per_query["hybrid_rrf_warm_runs"])

    # r6 warm SERVING hybrid (VERDICT r5 #6): the HybridServer state
    # (cached tokenized corpus + memoized stats + serving session
    # shape) against the same query — the single-query answer to the
    # BASELINE "sub-second search" row. Prime with one query, time
    # two different ones (min), restore confs via close().
    from mcp_vector_search_spark.plans.hybrid import HybridServer

    with HybridServer(docs_w, emb_w) as _srv:
        _noop(_srv.search(["data", "query"], qv_w))
        served_runs = []
        # r9: when the fixed query pair disagrees >1.5x, re-measure
        # the SAME pair once — same stability rule as
        # _runs_until_stable, but never a third distinct query: a
        # different term's posting lists cost differently by nature,
        # and a cheaper third query would drop the published min below
        # the band with no engine change (r9 review). Re-running the
        # same pair only re-samples the transient.
        for _pass in range(2):
            for _terms in (["window", "merge"], ["stream", "filter"]):
                t0 = time.time()
                _noop(_srv.search(_terms, qv_w))
                served_runs.append(round(time.time() - t0, 3))
            if _is_stable(served_runs):
                break
        per_query["hybrid_rrf_warm_served_unstable"] = not _is_stable(served_runs)
        per_query["hybrid_warm_served_runs"] = served_runs
        per_query["hybrid_rrf_warm_served"] = min(served_runs)

    # batch-hybrid throughput (VERDICT r4 #6): the engine's serving
    # thesis is query SETS as one DataFrame program — 64 full hybrid
    # pipelines (per-query BM25 leg + kNN leg + RRF + max-norm + top-k)
    # sharing one stats scan and one scoring scan. qps is the
    # BASELINE "sub-second search" comparison point: per-query cost
    # amortizes with the batch, unlike the warm 1-query number above.
    from mcp_vector_search_spark.plans.hybrid import hybrid_search_batch

    HB_N = 64
    hb_terms = [(i, _POOL[i % len(_POOL)]) for i in range(HB_N)]
    hb_qvecs = emb_w.filter(F.col("vec_id") < HB_N).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    # r10 (VERDICT r9 #1): stability-retried — r9 published 7.05 qps
    # (vs ~11-13.5 clean) unflagged from this row's single run
    per_query["hybrid_batch_runs"] = _runs_until_stable(
        spark, 2,
        lambda: _noop(hybrid_search_batch(docs_w, emb_w, hb_terms,
                                          hb_qvecs, k=10)),
        max_runs=3,
    )
    per_query["hybrid_batch_unstable"] = not _is_stable(per_query["hybrid_batch_runs"])
    hb_sec = max(min(per_query["hybrid_batch_runs"]), 1e-3)
    per_query["hybrid_batch64_sec"] = round(hb_sec, 3)
    per_query["hybrid_batch_qps"] = round(HB_N / hb_sec, 2)
    mark("warm_serving")

    # BM25: index build (K3 sink) vs per-query latency against the
    # persisted index — mirrors the reference's prebuilt-index serving
    # path.
    import tempfile

    from mcp_vector_search_spark.operators.bm25 import (
        bm25_topk_indexed,
        write_bm25_index,
    )

    with tempfile.TemporaryDirectory() as idx:
        docs = eio.table(spark, SF_DIR, "documents")
        t0 = time.time()
        write_bm25_index(docs, idx)
        per_query["bm25_index_build"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(bm25_topk_indexed(spark, idx, QUERY_TERMS, 20))
        per_query["bm25_query_indexed"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(bm25_topk_indexed(spark, idx, ["window", "merge"], 20))
        per_query["bm25_query_indexed_warm"] = round(time.time() - t0, 3)

        # table-driven batch hybrid at N=256 (VERDICT r5 #2): the
        # query set joins this persisted postings index as a broadcast
        # table — no per-query compiled expressions, so the batch is
        # 4x the expression-compiled path's measured point (64 above)
        # and far past its ~100-query plan-width envelope.
        from mcp_vector_search_spark.operators.bm25 import read_bm25_index
        from mcp_vector_search_spark.plans.hybrid import (
            hybrid_search_batch_ann,
            hybrid_search_batch_indexed,
        )

        HBT_N = 256
        hbt_terms = [(i, _POOL[i % len(_POOL)]) for i in range(HBT_N)]
        hbt_qvecs = emb_w.filter(F.col("vec_id") < HBT_N).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("query_vec"),
        )
        postings_i, doc_stats_i, term_stats_i = read_bm25_index(spark, idx)
        # r9: stability-retried best-of-2 (was single-run) — these two
        # qps rows are in the verdict's within-1.5x-of-band contract,
        # and a single run publishes whatever transient hits it
        per_query["hybrid_batch_tbl_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(hybrid_search_batch_indexed(
                postings_i, doc_stats_i, term_stats_i, emb_w, hbt_terms,
                hbt_qvecs, k=10,
            )))
        per_query["hybrid_batch_tbl_unstable"] = not _is_stable(per_query["hybrid_batch_tbl_runs"])
        hbt_sec = max(min(per_query["hybrid_batch_tbl_runs"]), 1e-3)
        per_query["hybrid_batch_tbl256_sec"] = round(hbt_sec, 3)
        per_query["hybrid_batch_tbl_qps"] = round(HBT_N / hbt_sec, 2)

        # serving-from-artifacts hybrid (r6): same 256-query batch, but
        # the vector leg probes a packed IVF layout (4/16 clusters)
        # instead of brute-scanning the corpus — at sf0.1's 2K vectors
        # the win is structural, not visible; the qps point documents
        # the path works end-to-end at batch scale next to its exact
        # twin above
        from mcp_vector_search_spark.operators.ivf import (
            ivf_build_sampled,
            ivf_pack,
        )

        hba_assigned, hba_cents = ivf_build_sampled(emb_w, num_clusters=16)
        hba_packed = ivf_pack(hba_assigned).cache()
        hba_packed.count()
        per_query["hybrid_batch_ann_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(hybrid_search_batch_ann(
                postings_i, doc_stats_i, term_stats_i, hba_packed, hba_cents,
                hbt_terms, hbt_qvecs, k=10, nprobes=4,
            )))
        per_query["hybrid_batch_ann_unstable"] = not _is_stable(per_query["hybrid_batch_ann_runs"])
        hba_sec = max(min(per_query["hybrid_batch_ann_runs"]), 1e-3)
        per_query["hybrid_batch_ann256_sec"] = round(hba_sec, 3)
        per_query["hybrid_batch_ann_qps"] = round(HBT_N / hba_sec, 2)
        hba_packed.unpersist()

    # K3 incremental: upsert a 1% delta into a standing segmented
    # index (delta tokenized alone; term_stats re-aggregates the
    # already-tokenized postings) — vs `bm25_index_build`, the
    # full-rebuild cost measured above
    from mcp_vector_search_spark.operators.bm25 import update_bm25_index

    # r10 (VERDICT r9 #1): stability-retried — but each run needs a
    # FRESH index dir (updating an already-updated index would measure
    # a different segment count), so the retry loop is hand-rolled:
    # the base build is untimed per run, only the delta upsert counts
    base = docs.filter(F.col("doc_id") % 100 != 0)
    delta = docs.filter(F.col("doc_id") % 100 == 0).select("doc_id", "text")
    upd_runs: list = []

    def _one_update_run() -> None:
        with tempfile.TemporaryDirectory() as idx2:
            write_bm25_index(base, idx2)
            _quiesce(spark)
            t0 = time.time()
            update_bm25_index(spark, idx2, delta)
            upd_runs.append(round(time.time() - t0, 3))

    _one_update_run()
    _one_update_run()
    while not _is_stable(upd_runs) and len(upd_runs) < 3:
        _one_update_run()
    per_query["bm25_update_delta_runs"] = upd_runs
    per_query["bm25_update_delta_unstable"] = not _is_stable(upd_runs)
    per_query["bm25_update_delta_sec"] = min(upd_runs)

    # term-bucketed postings layout (r6): the same index partitioned
    # by term-hash bucket — the query's IN-filter becomes physical
    # partition pruning (plan-asserted in tests/test_bm25_incremental).
    # At sf0.1's corpus the win is structural; the row proves the
    # bucketed build+query path at bench scale.
    with tempfile.TemporaryDirectory() as idxb:
        write_bm25_index(docs, idxb, term_buckets=32)
        t0 = time.time()
        _noop(bm25_topk_indexed(spark, idxb, QUERY_TERMS, 20))
        per_query["bm25_query_indexed_bucketed"] = round(time.time() - t0, 3)
    mark("bm25_index")

    # co-located join layout: the same join+agg with and without the
    # pre-shuffled bucket layout (write cost reported separately, like
    # the other index builds)
    import uuid

    from mcp_vector_search_spark.io import write_bucketed

    old_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    lt = f"bench_bli_{uuid.uuid4().hex[:6]}"
    rt = f"bench_bod_{uuid.uuid4().hex[:6]}"
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet").select(
            "l_orderkey", "l_quantity"
        )
        od = spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
            F.col("o_orderkey").alias("l_orderkey"), "o_custkey"
        )

        def _join_agg(a, b):
            _noop(
                a.join(b, "l_orderkey").groupBy("o_custkey").agg(
                    F.sum("l_quantity")
                )
            )

        t0 = time.time()
        _join_agg(li, od)
        per_query["join_shuffled"] = round(time.time() - t0, 3)
        t0 = time.time()
        write_bucketed(li, lt, ["l_orderkey"], 16, ["l_orderkey"])
        write_bucketed(od, rt, ["l_orderkey"], 16, ["l_orderkey"])
        per_query["bucketed_layout_build"] = round(time.time() - t0, 3)
        t0 = time.time()
        _join_agg(spark.table(lt), spark.table(rt))
        per_query["join_bucketed"] = round(time.time() - t0, 3)
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {lt}")
        spark.sql(f"DROP TABLE IF EXISTS {rt}")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old_bc)
    mark("bucketed_join")

    # --- round-4 curation ops: duplicate spans + language ID ----------
    # same steady-state methodology as the headline set (one untimed
    # sf0.001 execution compiles the codegen, then time sf0.1)
    tiny = _tiny_dir()
    for name in ("dup_spans", "lang_id", "token_mixture_exact"):
        fn = SPARK_QUERIES[name]
        if os.path.isdir(tiny):
            try:
                _noop(fn(spark, tiny))
            except Exception:
                pass
        t0 = time.time()
        _noop(fn(spark, SF_DIR))
        per_query[name] = round(time.time() - t0, 3)
    mark("curation")


def sec_ann_small(spark, per_query, mark):
    """ANN at raw sf0.1 scale (below the IVF activation threshold —
    overhead-dominated, brute 'wins' by design) + the amortized
    1024-query serving-latency points for the BASELINE comparison."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.operators.ivf import (
        ivf_build,
        ivf_topk_batch,
        ivf_topk_batch_np,
    )
    from mcp_vector_search_spark.operators.topk import (
        topk_per_query,
        topk_per_query_np,
    )

    emb = eio.table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    # steady-state warmup (r8 review): these are SINGLE-RUN timed
    # points that feed the official headline total, and this is a
    # cold subprocess — warm the Arrow scoring kernels and the MLlib
    # fit machinery with tiny untimed executions first (the pre-r8
    # single-session bench got this from the sections that ran
    # before; without it the documented 2-6x first-run JIT gap lands
    # inside ann_brute_q256/ann_ivf_q256).
    wq = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    _noop(topk_per_query(emb, wq, 10))
    _noop(topk_per_query_np(emb, wq, 10))
    w_assigned, w_cents = ivf_build(emb.limit(256))
    _noop(ivf_topk_batch(w_assigned, w_cents, wq, 10, nprobes=4))
    _noop(ivf_topk_batch_np(w_assigned, w_cents, wq, 10, nprobes=4))
    mark("warmup_ann_small")

    queries = emb.filter(F.col("vec_id") % 7 == 0).limit(256).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    t0 = time.time()
    _noop(topk_per_query(emb, queries, 10))
    per_query["ann_brute_q256"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(topk_per_query_np(emb, queries, 10))
    per_query["ann_brute_q256_np"] = round(time.time() - t0, 3)
    t0 = time.time()
    assigned, centroids = ivf_build(emb)
    assigned = assigned.cache()
    assigned.count()
    per_query["ann_ivf_build"] = round(time.time() - t0, 3)
    t0 = time.time()
    # nprobes=36/44: the coverage needed to stay in the reference
    # recall band (97.5-100%) on this weakly-clustered synthetic
    # corpus; structured real embeddings need far less (reference:
    # 20/272)
    _noop(ivf_topk_batch(assigned, centroids, queries, 10, nprobes=BENCH_NPROBES))
    per_query["ann_ivf_q256"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(ivf_topk_batch_np(assigned, centroids, queries, 10, nprobes=BENCH_NPROBES))
    per_query["ann_ivf_q256_np"] = round(time.time() - t0, 3)

    # recall@10 of the IVF path vs brute force (BASELINE band:
    # 97.5-100%). cache+count: limit without ordering is not
    # deterministic across actions — the truth and approx collects
    # must score the SAME 32 queries (r6 review #7)
    sample_q = queries.limit(32).cache()
    sample_q.count()
    truth = {
        (r.query_id, r.vec_id)
        for r in topk_per_query(emb, sample_q, 10).collect()
    }
    approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_batch(
            assigned, centroids, sample_q, 10, nprobes=BENCH_NPROBES
        ).collect()
    }
    per_query["ann_recall_at_10"] = round(
        len(truth & approx) / max(len(truth), 1), 4
    )
    mark("ann_small")

    # amortized per-query serving latency for the BASELINE comparison
    # (single-query online latency is out of Spark's scope; batch
    # scoring throughput is the comparable metric). The 1024-query
    # batch is the throughput-representative point — fixed job
    # overhead amortizes across the batch, which is exactly how this
    # engine would serve query sets on a cluster.
    q1024 = emb.filter(F.col("vec_id") < 1024).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).cache()
    n_q1024 = q1024.count()  # < 1024 at small SFs — divide by real size
    t0 = time.time()
    _noop(topk_per_query_np(emb, q1024, 10))
    per_query["ann_brute_q1024_np"] = round(time.time() - t0, 3)
    t0 = time.time()
    _noop(ivf_topk_batch_np(assigned, centroids, q1024, 10, nprobes=BENCH_NPROBES))
    per_query["ann_ivf_q1024_np"] = round(time.time() - t0, 3)
    per_query["ann_brute_ms_per_query"] = round(
        per_query["ann_brute_q1024_np"] * 1000 / n_q1024, 2
    )
    per_query["ann_ivf_ms_per_query"] = round(
        per_query["ann_ivf_q1024_np"] * 1000 / n_q1024, 2
    )
    mark("ann_q1024")


def _warm_ann_kernels(spark, emb):
    """Warm the sampled-build/pack/scoring kernels untimed on the tiny
    raw corpus — ann_big_ivf_build_sec, the pack point, and the
    256-d fused build are single-run in a cold subprocess (r8
    review; 2x run-to-run spread observed on the build before this).
    Both build shapes are warmed: staged (the timed 64-d build) AND
    fused (the timed 256-d build). Shared by the full ann_big section
    and its serving-only retry path (r11)."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.operators.ivf import (
        ivf_build_sampled,
        ivf_build_sampled_packed,
        ivf_pack,
        ivf_topk_batch_packed,
    )
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    wa, wc = ivf_build_sampled(emb, num_clusters=4)
    wp = ivf_pack(wa).cache()
    wp.count()
    wpf, _ = ivf_build_sampled_packed(emb, num_clusters=4)
    wpf.count()
    wq = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    _noop(ivf_topk_batch_packed(wp, wc, wq, 10, nprobes=4))
    _noop(topk_per_query_np(emb, wq, 10))
    wp.unpersist()


def _reuse_512k_dir():
    """The shared ×256-corpus artifact dir under the orchestrator's
    per-run reuse root (r11, VERDICT r10 #4), or None standalone."""
    root = os.environ.get("SPARK_GRAFT_BENCH_REUSE_DIR")
    return os.path.join(root, "shared512k") if root else None


def _sec_ann_big_retry(spark, per_query, mark, reuse_dir):
    """Serving-only ann_big re-run (r11, VERDICT r10 #4): the contended
    first run already built AND persisted the ×256 corpus, packed
    layout, and query batch (~400 s of a ~730 s section) — the retry
    loads them and re-measures only the serving rows the orchestrator
    replaces (RETRY_ON_CONTENTION["ann_big"]). Build rows stay from
    run 1: they are band-stamped independently, and re-measuring them
    is exactly the wall-clock that killed the r10 record."""
    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.api import SparkProject
    from mcp_vector_search_spark.operators.ivf import (
        ivf_topk_batch_packed,
        read_ivf_layout,
    )
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    emb = eio.table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    _warm_ann_kernels(spark, emb)
    mark("warmup_ann_big")

    ncpu = spark.sparkContext.defaultParallelism
    # repartition to the full-section shape: the persisted flat corpus
    # would otherwise read back in fewer, larger scan partitions and
    # the brute kernel would run on fewer cores than run 1 did
    big = spark.read.parquet(f"{reuse_dir}/flat").repartition(ncpu).cache()
    n_big = big.count()
    per_query["ann_big_n_vectors"] = n_big
    big_q = spark.read.parquet(f"{reuse_dir}/queries").cache()
    n_big_q = big_q.count()
    big_packed, big_cents = read_ivf_layout(spark, f"{reuse_dir}/packed")
    big_packed = big_packed.cache()
    big_packed.count()
    per_query["ann_big_retry_reused_layout"] = True

    per_query["ann_big_brute_runs"] = _runs_of(
        spark, 2, lambda: _noop(topk_per_query_np(big, big_q, 10)))
    per_query["ann_big_brute_sec"] = min(per_query["ann_big_brute_runs"])
    per_query["ann_big_brute_ms_per_query"] = round(
        per_query["ann_big_brute_sec"] * 1000 / n_big_q, 2
    )
    per_query["ann_big_ivf_runs"] = _runs_of(
        spark, 2, lambda: _noop(ivf_topk_batch_packed(
            big_packed, big_cents, big_q, 10, nprobes=20)))
    per_query["ann_big_ivf_sec"] = min(per_query["ann_big_ivf_runs"])
    per_query["ann_big_ivf_ms_per_query"] = round(
        per_query["ann_big_ivf_sec"] * 1000 / n_big_q, 2
    )
    proj = SparkProject(spark, big, big, spread=False)
    proj._ivf_layout = (big_packed, big_cents, "packed")
    per_query["ann_big_auto_route_choice"] = proj.ann_serving_regime(
        batch_size=n_big_q
    )["regime"]
    per_query["ann_big_auto_route_sec"] = round(
        _best_of(spark, 2, lambda: _noop(proj.search_batch(big_q, 10))), 3
    )
    big.unpersist()
    big_q.unpersist()
    big_packed.unpersist()
    emb.unpersist()
    mark("ann_big_512k")


def sec_ann_big(spark, per_query, mark):
    """ANN one decade above the activation threshold: the ×256 inflated
    512K corpus — brute vs packed-IVF in memory, the on-disk
    partition-pruning points, the probe-union-vs-batch-size crossover
    curve (r8), and the IVF-PQ family."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.operators.ivf import (
        ivf_build_sampled,
        ivf_build_sampled_packed,
        ivf_pack,
        ivf_topk_batch_np,
        ivf_topk_batch_packed,
        read_ivf_layout,
        write_ivf_layout,
    )
    from mcp_vector_search_spark.operators.kernel import collect_queries
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    INFLATE = 256
    reuse_dir = _reuse_512k_dir()
    if reuse_dir and os.path.isdir(os.path.join(reuse_dir, "packed")):
        _sec_ann_big_retry(spark, per_query, mark, reuse_dir)
        return
    emb = eio.table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    _warm_ann_kernels(spark, emb)
    mark("warmup_ann_big")

    big = _inflate_embeddings(spark, emb, INFLATE).cache()
    n_big = big.count()
    per_query["ann_big_n_vectors"] = n_big
    big_q = _inflated_queries(big, INFLATE, 256).cache()
    n_big_q = big_q.count()

    per_query["ann_big_brute_runs"] = _runs_of(
        spark, 2, lambda: _noop(topk_per_query_np(big, big_q, 10)))
    per_query["ann_big_brute_sec"] = min(per_query["ann_big_brute_runs"])
    per_query["ann_big_brute_ms_per_query"] = round(
        per_query["ann_big_brute_sec"] * 1000 / n_big_q, 2
    )
    t0 = time.time()
    big_assigned, big_cents = ivf_build_sampled(big, num_clusters=256)
    # per-row layout, hash-partitioned by cluster_id: still built (the
    # IVF-PQ encode and the on-disk partitioned-parquet section below
    # consume it), and cached because both consumers scan it twice
    big_assigned = big_assigned.repartition("cluster_id").cache()
    big_assigned.count()
    per_query["ann_big_ivf_build_sec"] = round(time.time() - t0, 3)
    # in-memory serving layout (VERDICT r4 #1): per-cluster PACKED
    # blocks — probing deserializes ~256 binary cells, not 512K
    # array<double> rows, so the probe filter physically prunes
    # in memory the way partitioned parquet prunes on disk
    t0 = time.time()
    big_packed = ivf_pack(big_assigned).cache()
    n_blocks = big_packed.count()
    per_query["ann_big_ivf_pack_sec"] = round(time.time() - t0, 3)
    per_query["ann_big_ivf_n_blocks"] = n_blocks
    per_query["ann_big_ivf_runs"] = _runs_of(
        spark, 2, lambda: _noop(ivf_topk_batch_packed(
            big_packed, big_cents, big_q, 10, nprobes=20)))
    per_query["ann_big_ivf_sec"] = min(per_query["ann_big_ivf_runs"])
    per_query["ann_big_ivf_ms_per_query"] = round(
        per_query["ann_big_ivf_sec"] * 1000 / n_big_q, 2
    )
    # honesty split — layout win vs algorithm win: the same packed
    # layout probing ALL clusters is an exact brute-force scan, so
    # (brute − brute_packed) is what packing buys and
    # (brute_packed − ivf) is what probe pruning buys on top
    per_query["ann_big_brute_packed_sec"] = round(
        _best_of(spark, 2, lambda: _noop(ivf_topk_batch_packed(
            big_packed, big_cents, big_q, 10, nprobes=256))), 3)

    # --- probe-union vs batch size: the in-memory crossover curve (r8,
    # VERDICT r7 #5). ISSUES #3 records that a DIVERSE 128-query batch
    # probes ~all clusters, making in-memory probing ≈ packed brute;
    # the regime where probing wins is small/concentrated batches.
    # This measures exactly where: per batch size, the probed-cluster
    # union (of 256) and packed-probe vs parallel-brute timings
    # (best-of-2 each, both paths over the same cached corpus).
    for nq in (2, 8, 32, 128):
        qn = big_q.limit(nq).cache()
        qn.count()
        c2q = collect_queries(qn, centroids=big_cents, nprobes=20).probes
        per_query[f"ann_big_xover_q{nq}_probe_union"] = len(c2q)
        per_query[f"ann_big_xover_q{nq}_ivf_sec"] = round(
            _best_of(spark, 2, lambda q=qn: _noop(ivf_topk_batch_packed(
                big_packed, big_cents, q, 10, nprobes=20))), 3)
        per_query[f"ann_big_xover_q{nq}_brute_sec"] = round(
            _best_of(spark, 2, lambda q=qn: _noop(
                topk_per_query_np(big, q, 10))), 3)
        qn.unpersist()

    # --- the reproducible IVF win: I/O pruning on a persisted layout.
    # In memory both paths deserialize every cached row (64-dim flops
    # are trivial), so the in-memory timings above fluctuate with
    # Arrow/GC noise. On disk the probed-union filter becomes physical
    # partition pruning (plan-asserted in
    # tests/test_ivf_partition_pruning.py): an 8-query batch probes
    # ~half the clusters, so the IVF scan reads ~half the bytes the
    # flat scan reads — the fraction that keeps shrinking as corpus
    # and cluster count grow while the probe set stays fixed.
    import shutil as _sh
    import tempfile as _tf

    _quiesce(spark)
    # under the orchestrator (reuse_dir set) the disk artifacts land in
    # the per-run reuse dir and SURVIVE the section: a contention retry
    # (and the hybrid_scale section, same ×256 corpus + layout) loads
    # them instead of rebuilding (r11, VERDICT r10 #4). Standalone runs
    # keep the self-cleaning tempdir.
    persist = reuse_dir is not None
    layout_dir = reuse_dir if persist else _tf.mkdtemp(prefix="bench_ivf_layout_")
    if persist:
        os.makedirs(layout_dir, exist_ok=True)
    try:
        flat_p = f"{layout_dir}/flat"
        part_p = f"{layout_dir}/by_cluster"
        big.select("vec_id", "embedding").write.parquet(flat_p)
        # the exact query batch, so the retry re-measures the SAME rows
        # (_inflated_queries' limit() is plan-order-dependent)
        big_q.write.mode("overwrite").parquet(f"{layout_dir}/queries")
        big_assigned.select("vec_id", "unit", "cluster_id").write.partitionBy(
            "cluster_id"
        ).parquet(part_p)
        q8 = big_q.limit(8).cache()
        q8.count()
        flat_df = spark.read.parquet(flat_p)
        part_df = spark.read.parquet(part_p)
        t0 = time.time()
        _noop(topk_per_query_np(flat_df, q8, 10))
        per_query["ann_big_disk_brute_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(ivf_topk_batch_np(part_df, big_cents, q8, 10, nprobes=20))
        per_query["ann_big_disk_ivf_sec"] = round(time.time() - t0, 3)
        # the durable serving artifact (r5): packed blocks partitioned
        # by cluster_id — probe filter prunes whole partitions AND the
        # per-row deserialize cost is gone (one binary cell per block)
        write_ivf_layout(big_packed, big_cents, f"{layout_dir}/packed")
        pk_df, pk_cents = read_ivf_layout(spark, f"{layout_dir}/packed")
        t0 = time.time()
        _noop(ivf_topk_batch_packed(pk_df, pk_cents, q8, 10, nprobes=20))
        per_query["ann_big_disk_packed_sec"] = round(time.time() - t0, 3)
        # r7: the SERVING shape — a 2-query lookup probes 40/256
        # partitions (~16% of bytes) where the 8-query batch above
        # probes ~60%; this is the point where on-disk partition
        # pruning actually shows (a 100 TB layout answers single
        # lookups, not 8-wide batches, from cold storage)
        q2 = big_q.limit(2).cache()
        q2.count()
        # r11: same real-cold treatment as the 4M pair (see
        # _drop_page_cache) — the 512K flat corpus also never left the
        # 123 GiB page cache naturally
        per_query["ann_big_disk_cache_dropped"] = _drop_page_cache()
        t0 = time.time()
        _noop(topk_per_query_np(flat_df, q2, 10))
        per_query["ann_big_disk_brute_q2_sec"] = round(time.time() - t0, 3)
        t0 = time.time()
        _noop(ivf_topk_batch_packed(pk_df, pk_cents, q2, 10, nprobes=20))
        per_query["ann_big_disk_packed_q2_sec"] = round(time.time() - t0, 3)
        q2.unpersist()
    finally:
        if not persist:
            _sh.rmtree(layout_dir, ignore_errors=True)

    # (no in-memory small-batch latency point: below ~32 queries that
    # measurement is fixed job-launch overhead divided by batch size —
    # it flips sign run to run.)
    big_sample = big_q.limit(32).cache()
    big_sample.count()
    big_truth = {
        (r.query_id, r.vec_id)
        for r in topk_per_query_np(big, big_sample, 10).collect()
    }
    big_approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_batch_packed(
            big_packed, big_cents, big_sample, 10, nprobes=20
        ).collect()
    }
    per_query["ann_big_recall_at_10"] = round(
        len(big_truth & big_approx) / max(len(big_truth), 1), 4
    )

    # --- r9 (VERDICT r8 #2): the façade's regime router on this
    # corpus. 512K×64-d packs ~262 MB — far below the measured
    # ~4.5 GB/node in-memory break-even — so search_batch(route=
    # "auto") serves the brute kernel even though a float-IVF layout
    # is memoized. The pre-r9 façade always probed here, paying
    # ann_big_ivf_sec where ann_big_brute_sec was available; the two
    # plans are row-identical (shared oracle), so the row below should
    # track ann_big_brute_sec, not ann_big_ivf_sec.
    from mcp_vector_search_spark.api import SparkProject

    proj = SparkProject(spark, big, big, spread=False)
    proj._ivf_layout = (big_packed, big_cents, "packed")
    per_query["ann_big_auto_route_choice"] = proj.ann_serving_regime(
        batch_size=n_big_q
    )["regime"]
    per_query["ann_big_auto_route_sec"] = round(
        _best_of(spark, 2, lambda: _noop(proj.search_batch(big_q, 10))), 3
    )

    # IVF-PQ on the same layout: residual-PQ encode on top of the
    # existing coarse quantizer (no KMeans refit), ADC scan of codes
    # (m bytes/vector instead of d floats) + exact rerank ×5. At 100 TB
    # this is the path whose scan I/O is ~48× smaller than plain IVF.
    from mcp_vector_search_spark.operators.ivfpq import (
        ivfpq_build,
        ivfpq_pack,
        ivfpq_pack_fused,
        ivfpq_topk_refined,
    )

    # rerank_factor=30 (not the reference's 5): each query here has 255
    # near-identical variants whose differences sit BELOW the PQ
    # quantization floor, so ADC can find the right neighborhood but
    # cannot rank inside it — the exact-rerank window must span the
    # duplicate cluster (measured: rerank 10 -> recall 0.43, 30 -> 1.0).
    # Real corpora after dedup don't have 256-deep duplicate stacks;
    # this is the honest worst case.
    _quiesce(spark)  # the encode runs late — same session-debris hygiene
    t0 = time.time()
    big_enc, big_pq_cents, big_cbs = ivfpq_build(
        big, m=16, k_codes=256, coarse=(big_assigned, big_cents)
    )
    big_enc = big_enc.repartition("cluster_id").cache()
    big_enc.count()
    per_query["ann_big_ivfpq_encode_sec"] = round(time.time() - t0, 3)
    # r5: the ADC stage scans PACKED code blocks (ivfpq_pack) — the
    # per-row code table had the same Arrow-cell deserialize tax the
    # float layout had before ivf_pack. The per-row number is kept for
    # the layout-win split.
    t0 = time.time()
    big_enc_packed = ivfpq_pack(big_enc).cache()
    big_enc_packed.count()
    per_query["ann_big_ivfpq_pack_sec"] = round(time.time() - t0, 3)
    # r7: the fused one-pass encode+pack (assign+residual+code+pack
    # map-side, only code blobs shuffle) vs the staged encode+pack
    # above — bit-identical blocks, so this is a pure build-cost point.
    # r8: best-of-2 with all runs recorded, same as the probe points —
    # the single-run number was the one BENCH_r07 published at its
    # late-session-inflated value (VERDICT r7 #1).
    per_query["ann_big_ivfpq_fused_build_runs"] = _runs_of(
        spark, 2, lambda: _noop(ivfpq_pack_fused(big, big_pq_cents, big_cbs)))
    per_query["ann_big_ivfpq_fused_build_sec"] = min(
        per_query["ann_big_ivfpq_fused_build_runs"]
    )
    per_query["ann_big_ivfpq_perrow_sec"] = round(
        _best_of(spark, 2, lambda: _noop(ivfpq_topk_refined(
            big, big_enc, big_pq_cents, big_cbs, big_q, 10,
            nprobes=20, rerank_factor=30,
        ))), 3)
    per_query["ann_big_ivfpq_sec"] = round(
        _best_of(spark, 2, lambda: _noop(ivfpq_topk_refined(
            big, big_enc, big_pq_cents, big_cbs, big_q, 10,
            nprobes=20, rerank_factor=30, packed_codes=big_enc_packed,
        ))), 3)
    per_query["ann_big_ivfpq_ms_per_query"] = round(
        per_query["ann_big_ivfpq_sec"] * 1000 / n_big_q, 2
    )
    big_ivfpq = {
        (r.query_id, r.vec_id)
        for r in ivfpq_topk_refined(
            big, big_enc, big_pq_cents, big_cbs, big_sample, 10,
            nprobes=20, rerank_factor=30, packed_codes=big_enc_packed,
        ).collect()
    }
    per_query["ann_big_ivfpq_recall_at_10"] = round(
        len(big_truth & big_ivfpq) / max(len(big_truth), 1), 4
    )
    # Where PQ actually wins at this dim/scale: index BYTES, not
    # latency (ISSUES.md #2; reference claims 27 vs 108 MB,
    # CHANGELOG.md:432). Measure the serialized layouts: full-vector
    # parquet vs (cluster_id, m-byte codes) parquet.
    import shutil as _sh2
    import tempfile as _tf2

    fd = _tf2.mkdtemp(prefix="bench_idx_bytes_")
    try:
        big.select("vec_id", "embedding").write.parquet(f"{fd}/full")
        big_enc.select("vec_id", "cluster_id", "codes").write.parquet(f"{fd}/pq")
        per_query["ann_big_index_mb_full"] = round(_du(f"{fd}/full") / 1e6, 1)
        per_query["ann_big_index_mb_pq"] = round(_du(f"{fd}/pq") / 1e6, 1)
    finally:
        _sh2.rmtree(fd, ignore_errors=True)
    big_enc.unpersist()
    big_enc_packed.unpersist()
    big_assigned.unpersist()
    big_packed.unpersist()

    # --- the DIM axis of the in-memory crossover (r8): the 64-d curve
    # above shows probing never beats parallel brute at this dim — but
    # real embedding models are 256-1536-d, where per-row bytes and
    # flops grow 4-24× while the probed fraction stays fixed. Widen
    # the same 512K corpus to 256-d (4 deterministically-perturbed
    # tiles of each 64-d vector) and measure the q2/q8 serving points
    # both ways. Placed LAST in the section so its ~2 GB of cache
    # churn can't perturb the cross-round-compared disk/ivfpq points
    # above (r8 review). Build uses the fused one-pass path (warmed in
    # the section warmup).
    def _tile(c, vec_col, id_col):
        return F.transform(
            vec_col,
            lambda x, i: x + 0.01 * F.sin(
                F.col(id_col) * 7.0 + i.cast("double") * 1.7 + c * 13.0
            ),
        )

    def _widen(df, vec_col, id_col):
        return df.select(
            id_col,
            F.flatten(F.array(
                F.col(vec_col),
                _tile(1, vec_col, id_col),
                _tile(2, vec_col, id_col),
                _tile(3, vec_col, id_col),
            )).alias(vec_col),
        )

    big256 = _widen(big, "embedding", "vec_id").cache()
    big256.count()
    per_query["ann_big256_dim"] = 256
    t0 = time.time()
    packed256, cents256 = ivf_build_sampled_packed(big256, num_clusters=256)
    packed256 = packed256.cache()
    packed256.count()
    per_query["ann_big256_ivf_build_sec"] = round(time.time() - t0, 3)
    # widen the CACHED 64-d query set directly — the tile expression is
    # a pure function of (id, vector), so these are exactly the
    # corpus's 256-d rows for the SAME query ids the 64-d curve used
    # (a corpus join + limit would let join order pick different
    # queries per run — r8 review)
    big_q256 = _widen(
        big_q.select(
            F.col("query_id").alias("vec_id"),
            F.col("query_vec").alias("embedding"),
        ),
        "embedding", "vec_id",
    ).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    ).cache()
    big_q256.count()
    for nq in (2, 8):
        qn = big_q256.limit(nq).cache()
        qn.count()
        c2q = collect_queries(qn, centroids=cents256, nprobes=20).probes
        per_query[f"ann_big256_q{nq}_probe_union"] = len(c2q)
        per_query[f"ann_big256_q{nq}_ivf_sec"] = round(
            _best_of(spark, 2, lambda q=qn: _noop(ivf_topk_batch_packed(
                packed256, cents256, q, 10, nprobes=20))), 3)
        per_query[f"ann_big256_q{nq}_brute_sec"] = round(
            _best_of(spark, 2, lambda q=qn: _noop(
                topk_per_query_np(big256, q, 10))), 3)
        qn.unpersist()
    big_q256.unpersist()
    big256.unpersist()
    packed256.unpersist()

    big.unpersist()
    big_q.unpersist()
    mark("ann_big_512k")


def _du(p: str) -> int:
    return sum(
        os.path.getsize(os.path.join(r, f))
        for r, _, fs in os.walk(p)
        for f in fs
    )


def sec_hybrid_scale(spark, per_query, mark):
    """Hybrid serving at the 512K decade: the tbl-vs-ann crossover the
    artifacts path exists for. Same 256-query batch against a 128K-doc
    corpus (docs ×256, caesar-shifted per variant like the sf1
    replicas) + the 512K-vector packed layout. The BM25 legs are
    identical (both join the term-bucketed postings index); the vector
    legs differ — exact brute scan of 512K vectors vs 20/256 probed
    packed clusters — so the qps gap is the measured value of serving
    the vector leg from the layout.

    r8: own subprocess (this is the section BENCH_r07 published at 1/3
    of its same-day isolated value — late-session G1 debris), and each
    serving measurement is best-of-2 with all runs recorded.
    """
    import tempfile

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as _HW

    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.operators.bm25 import (
        read_bm25_index,
        write_bm25_index,
    )
    from mcp_vector_search_spark.operators.ivf import ivf_build_sampled_packed
    from mcp_vector_search_spark.plans.hybrid import (
        hybrid_search_batch_ann,
        hybrid_search_batch_indexed,
    )

    mark("warmup_hybrid_scale")
    INFLATE = 256
    # untimed setup: the same ×256 corpus + packed layout the ann_big
    # section measures (the fused build is bit-identical to the staged
    # ivf_build_sampled+ivf_pack layout — pinned in tests/test_ivf.py).
    # Under the orchestrator, ann_big has usually already PERSISTED
    # exactly these artifacts into the per-run reuse dir — load them
    # instead of rebuilding (r11, VERDICT r10 #4); the serving rows
    # measure the same cached frames either way.
    from mcp_vector_search_spark.operators.ivf import read_ivf_layout

    reuse_dir = _reuse_512k_dir()
    if reuse_dir and os.path.isdir(os.path.join(reuse_dir, "packed")):
        ncpu = spark.sparkContext.defaultParallelism
        big = spark.read.parquet(f"{reuse_dir}/flat").repartition(ncpu).cache()
        big.count()
        big_q = spark.read.parquet(f"{reuse_dir}/queries").cache()
        big_q.count()
        big_packed, big_cents = read_ivf_layout(
            spark, f"{reuse_dir}/packed")
        big_packed = big_packed.cache()
        big_packed.count()
        per_query["hybrid_scale_reused_512k"] = True
    else:
        emb = eio.table(spark, SF_DIR, "embeddings").cache()
        emb.count()
        big = _inflate_embeddings(spark, emb, INFLATE).cache()
        big.count()
        big_q = _inflated_queries(big, INFLATE, 256).cache()
        big_q.count()
        big_packed, big_cents = ivf_build_sampled_packed(big, num_clusters=256)
        big_packed = big_packed.cache()
        big_packed.count()
        if reuse_dir:
            # ann_big didn't run (budget-skipped/crashed) but we're
            # orchestrated: persist for OUR OWN potential retry.
            # packed is written LAST — its presence is the
            # artifacts-complete marker the readers check.
            from mcp_vector_search_spark.operators.ivf import (
                write_ivf_layout as _wl,
            )

            os.makedirs(reuse_dir, exist_ok=True)
            big.select("vec_id", "embedding").write.mode(
                "overwrite").parquet(f"{reuse_dir}/flat")
            big_q.write.mode("overwrite").parquet(f"{reuse_dir}/queries")
            _wl(big_packed, big_cents, f"{reuse_dir}/packed")

    # the postings index: built (timed) on the first run; a contention
    # retry reads the index the first run persisted under the reuse
    # root instead of re-inflating 128K docs and rebuilding (~the
    # section's build half) — the build row then stays from run 1,
    # which is the honest population for it anyway (r11, VERDICT
    # r10 #4). Standalone runs keep the self-cleaning tempdir.
    root = os.environ.get("SPARK_GRAFT_BENCH_REUSE_DIR")
    hidx_persist = os.path.join(root, "hybrid_scale_bm25") if root else None
    tmp_ctx = None
    if hidx_persist is None:
        tmp_ctx = tempfile.TemporaryDirectory()
        hidx = tmp_ctx.name
        index_ready = False
    else:
        hidx = hidx_persist
        index_ready = os.path.isdir(hidx)
    try:
        if not index_ready:
            docs01 = eio.table(spark, SF_DIR, "documents")
            dv = F.broadcast(
                spark.range(INFLATE).select(F.col("id").cast("int").alias("_v"))
            )
            _ncpu = spark.sparkContext.defaultParallelism
            # repartition BEFORE the 26-branch translate chain (same
            # one-file-scan trap): the shift itself then runs on every
            # core
            docs_big = docs01.crossJoin(dv).repartition(_ncpu).select(
                (F.col("doc_id") * INFLATE + F.col("_v")).cast("long").alias(
                    "doc_id"),
                _caesar_shift_expr("text", 26, "_v").alias("text"),
            )
            t0 = time.time()
            write_bm25_index(docs_big, hidx, term_buckets=64)
            per_query["hybrid_scale_index_build_sec"] = round(
                time.time() - t0, 3)
        else:
            per_query["hybrid_scale_reused_bm25_index"] = True
        hp, hds, hts = read_bm25_index(spark, hidx)
        HS_N = 256
        hs_terms = [(i, _POOL[i % len(_POOL)]) for i in range(HS_N)]
        # renumber query_ids 0..N-1 so they ALIGN with hs_terms — the
        # batch contract. big_q's ids are inflated vec_ids (multiples
        # of 1792), and the first cut of this section fused only
        # query 0: every other "hybrid" group was leg-only (r6 review;
        # the leg costs dominate, but the claim must be honest)
        hs_qvecs = (
            big_q.select(F.col("query_id").alias("_orig"), "query_vec")
            .withColumn(
                "query_id", F.row_number().over(_HW.orderBy("_orig")) - 1
            )
            .select("query_id", "query_vec")
            .cache()
        )
        hs_qvecs.count()
        # untimed steady-state warmup: one SMALL batch through each
        # serving path first. The pre-r8 single-session bench got this
        # for free — the bm25_index section had already executed the
        # exact hybrid_search_batch_indexed plan shape at sf0.1 before
        # hybrid_scale ran — so an isolated section timing its first
        # execution would conflate plan codegen + Arrow-kernel JIT
        # with serving cost (first-vs-second run gap ~2x measured).
        # Steady-state is what the qps rows have always claimed.
        warm_terms = hs_terms[:4]
        warm_qv = hs_qvecs.filter(F.col("query_id") < 4)
        _noop(hybrid_search_batch_indexed(
            hp, hds, hts, big, warm_terms, warm_qv, k=10, term_buckets=64
        ))
        _noop(hybrid_search_batch_ann(
            hp, hds, hts, big_packed, big_cents, warm_terms, warm_qv,
            k=10, nprobes=20, term_buckets=64,
        ))
        # term_buckets=64 on BOTH paths: the union terms' buckets
        # partition-prune the postings scan (the at-scale config the
        # layout exists for) — without it the shared BM25 leg reads
        # all 64 partitions and dominates both measurements
        per_query["hybrid_scale_tbl_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(hybrid_search_batch_indexed(
                hp, hds, hts, big, hs_terms, hs_qvecs, k=10, term_buckets=64
            )))
        per_query["hybrid_scale_tbl_unstable"] = not _is_stable(per_query["hybrid_scale_tbl_runs"])
        tbl_sec = max(min(per_query["hybrid_scale_tbl_runs"]), 1e-3)
        per_query["hybrid_scale_tbl_sec"] = round(tbl_sec, 3)
        per_query["hybrid_scale_tbl_qps"] = round(HS_N / tbl_sec, 2)
        per_query["hybrid_scale_ann_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(hybrid_search_batch_ann(
                hp, hds, hts, big_packed, big_cents, hs_terms, hs_qvecs,
                k=10, nprobes=20, term_buckets=64,
            )))
        per_query["hybrid_scale_ann_unstable"] = not _is_stable(per_query["hybrid_scale_ann_runs"])
        ann_sec = max(min(per_query["hybrid_scale_ann_runs"]), 1e-3)
        per_query["hybrid_scale_ann_sec"] = round(ann_sec, 3)
        per_query["hybrid_scale_ann_qps"] = round(HS_N / ann_sec, 2)

        # --- adversarial probe-skew serving (r12, VERDICT r11 #7):
        # the one 100 TB serving risk not yet measured. All 256
        # queries are ONE vector (distinct ids), so every query probes
        # the SAME 20/256 clusters — maximal hot-shard concentration:
        # the probe filter keeps ~20 block rows and the whole batch's
        # matmul work lands on them. The uniform pair (same kernel,
        # same batch size, the diverse hs_qvecs batch) isolates the
        # skew delta from the BM25 leg and fusion. If skew collapses
        # throughput, ivf_topk_batch_packed grows a query-split salt;
        # if the layout absorbs it (bigger per-block matmuls are
        # BLAS-friendlier and 20 tasks still cover local[32]'s
        # cores at this block count), this row is the evidence.
        from mcp_vector_search_spark.operators.ivf import (
            ivf_topk_batch_packed as _itbp,
        )

        skew_q = (
            hs_qvecs.filter(F.col("query_id") == 0)
            .select("query_vec")
            .crossJoin(spark.range(HS_N).select(
                F.col("id").cast("int").alias("query_id")))
            .select("query_id", "query_vec")
            .cache()
        )
        skew_q.count()
        _noop(_itbp(big_packed, big_cents, skew_q, 10, nprobes=20))
        per_query["hybrid_scale_vec_uniform_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(_itbp(
                big_packed, big_cents, hs_qvecs, 10, nprobes=20)))
        vu_sec = max(min(per_query["hybrid_scale_vec_uniform_runs"]), 1e-3)
        per_query["hybrid_scale_vec_uniform_qps"] = round(HS_N / vu_sec, 2)
        per_query["hybrid_scale_vec_uniform_unstable"] = not _is_stable(per_query["hybrid_scale_vec_uniform_runs"])
        per_query["hybrid_scale_skew_runs"] = _runs_until_stable(
            spark, 2, lambda: _noop(_itbp(
                big_packed, big_cents, skew_q, 10, nprobes=20)))
        sk_sec = max(min(per_query["hybrid_scale_skew_runs"]), 1e-3)
        per_query["hybrid_scale_skew_qps"] = round(HS_N / sk_sec, 2)
        per_query["hybrid_scale_skew_unstable"] = not _is_stable(per_query["hybrid_scale_skew_runs"])
        skew_q.unpersist()
        hs_qvecs.unpersist()
    finally:
        if tmp_ctx is not None:
            tmp_ctx.cleanup()
    big.unpersist()
    big_q.unpersist()
    big_packed.unpersist()
    mark("hybrid_scale")


def sec_ann_huge(spark, per_query, mark):
    """Second ANN scale decade: ~4M vectors (VERDICT r5 #7). Same
    deterministic inflation as the 512K section, ×2048 (≈2.1 GB of
    float64), 512 coarse clusters. The point: packed-IVF pruning and
    build cost one decade further — nprobes stays 20 while the cluster
    count doubles, so the probed fraction halves (20/512 = 3.9%)
    exactly as the 100 TB story requires. Brute force at this scale is
    the honest baseline (best-of-2 + quiesce methodology). r8 adds the
    on-disk q2 serving points one decade up from ann_big's."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.operators.ivf import (
        ivf_build_sampled_packed,
        ivf_topk_batch_packed,
    )
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    HUGE_INFLATE = 2048
    emb = eio.table(spark, SF_DIR, "embeddings").cache()
    emb.count()
    # warm the fused-build + packed-scoring kernels untimed on the
    # tiny raw corpus — ann_huge_ivf_build_sec is single-run in a cold
    # subprocess (r8 review; 25-81 s spread observed before this)
    wp, wc = ivf_build_sampled_packed(emb, num_clusters=4)
    wp = wp.cache()
    wp.count()
    wq = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    _noop(ivf_topk_batch_packed(wp, wc, wq, 10, nprobes=4))
    _noop(topk_per_query_np(emb, wq, 10))
    wp.unpersist()
    mark("warmup_ann_huge")

    huge = _inflate_embeddings(spark, emb, HUGE_INFLATE).cache()
    n_huge = huge.count()
    per_query["ann_huge_n_vectors"] = n_huge
    huge_q = _inflated_queries(huge, HUGE_INFLATE, 128).cache()
    n_huge_q = huge_q.count()

    # r9 (VERDICT r8 #3): write the flat ~2.1 GB disk corpus FIRST and
    # measure the disk-brute point LAST — in r8 the flat parquet was
    # written moments before being read, so the "cold storage" brute
    # side was page-cache-warm to an uncontrolled degree (3.2–19.8 s
    # spread across runs). Everything between the write and the
    # measurement (two 128-query brute passes, the fused build, probe
    # runs, the f32 pack — tens of GB of heap/cache traffic) now
    # evicts those pages; the gap is recorded alongside the number so
    # the record names its regime.
    import shutil as _sh
    import tempfile as _tf

    layout_dir = _tf.mkdtemp(prefix="bench_huge_layout_")
    try:
        # the ~2.1 GB write itself sits INSIDE the try: a half-written
        # flat corpus (disk full, executor loss) must clean up too
        flat_p = f"{layout_dir}/flat"
        huge.select("vec_id", "embedding").write.parquet(flat_p)
        # flush the dirty pages NOW: without this the kernel writes
        # back ~2.1 GB underneath the section's first timed points
        # (the first r9 run's fused build read 69 s vs the 19.6 s r8
        # band with the write adjacent instead of overlapping)
        os.sync()
        _flat_written_at = time.time()
        _sec_ann_huge_body(
            spark, per_query, huge, huge_q, n_huge_q, layout_dir,
            flat_p, _flat_written_at,
        )
    finally:
        _sh.rmtree(layout_dir, ignore_errors=True)

    huge.unpersist()
    huge_q.unpersist()
    mark("ann_huge_4m")


def _sec_ann_huge_body(
    spark, per_query, huge, huge_q, n_huge_q, layout_dir, flat_p,
    _flat_written_at,
):
    """The ann_huge work between the early flat-corpus write and the
    tempdir cleanup — split out so the page-cache-controlled disk
    points sit inside one try/finally with the write (a mid-section
    failure must not leak the ~2.1 GB tempdir)."""
    from pyspark.sql import functions as F

    from mcp_vector_search_spark.operators.ivf import (
        choose_ann_route,
        ivf_build_sampled_packed,
        ivf_pack_fused,
        ivf_topk_batch_packed,
        read_ivf_layout,
        write_ivf_layout,
    )
    from mcp_vector_search_spark.operators.kernel import collect_queries
    from mcp_vector_search_spark.operators.topk import topk_per_query_np

    per_query["ann_huge_brute_runs"] = _runs_of(
        spark, 2, lambda: _noop(topk_per_query_np(huge, huge_q, 10)))
    per_query["ann_huge_brute_sec"] = min(per_query["ann_huge_brute_runs"])
    per_query["ann_huge_brute_ms_per_query"] = round(
        per_query["ann_huge_brute_sec"] * 1000 / n_huge_q, 2
    )
    # r7: fused build — assign+pack in one corpus pass; only block
    # blobs cross the shuffle. Bit-identical layout to the two-step
    # build (pinned in tests/test_ivf.py), same quantizer fit.
    t0 = time.time()
    huge_packed, huge_cents = ivf_build_sampled_packed(huge, num_clusters=512)
    huge_packed = huge_packed.cache()
    per_query["ann_huge_ivf_n_blocks"] = huge_packed.count()
    per_query["ann_huge_ivf_build_sec"] = round(time.time() - t0, 3)
    per_query["ann_huge_ivf_runs"] = _runs_of(
        spark, 2, lambda: _noop(ivf_topk_batch_packed(
            huge_packed, huge_cents, huge_q, 10, nprobes=20)))
    per_query["ann_huge_ivf_sec"] = min(per_query["ann_huge_ivf_runs"])
    per_query["ann_huge_ivf_ms_per_query"] = round(
        per_query["ann_huge_ivf_sec"] * 1000 / n_huge_q, 2
    )
    # honesty stat (r7): a DIVERSE 128-query batch probes the union of
    # nearly every cluster (measured 509/512), so the in-memory packed
    # scan is Arrow-TRANSFER-bound, not flop-bound — probing ≈ packed
    # brute at this dim/batch. The regime where in-memory probing wins
    # is small/concentrated batches; on disk the pruning is physical
    # partition pruning regardless (the disk q2 points below).
    _c2q = collect_queries(huge_q, centroids=huge_cents, nprobes=20).probes
    per_query["ann_huge_probed_union"] = len(_c2q)
    # float32 packs halve the bytes crossing the JVM→Arrow boundary —
    # the lever that matters when serving is transfer-bound
    # (quantization sits below the round-6 score rounding for unit
    # vectors)
    huge_packed32 = ivf_pack_fused(huge, huge_cents, dtype="float32").cache()
    huge_packed32.count()
    per_query["ann_huge_ivf_f32_runs"] = _runs_of(
        spark, 2, lambda: _noop(ivf_topk_batch_packed(
            huge_packed32, huge_cents, huge_q, 10, nprobes=20)))
    per_query["ann_huge_ivf_f32_sec"] = min(per_query["ann_huge_ivf_f32_runs"])
    # cache+count the sample so the truth and approx collects see the
    # SAME 16 queries (limit without ordering is not deterministic
    # across actions — r6 review)
    huge_sample = huge_q.limit(16).cache()
    huge_sample.count()
    huge_truth = {
        (r.query_id, r.vec_id)
        for r in topk_per_query_np(huge, huge_sample, 10).collect()
    }
    huge_approx = {
        (r.query_id, r.vec_id)
        for r in ivf_topk_batch_packed(
            huge_packed, huge_cents, huge_sample, 10, nprobes=20
        ).collect()
    }
    per_query["ann_huge_recall_at_10"] = round(
        len(huge_truth & huge_approx) / max(len(huge_truth), 1), 4
    )

    # --- on-disk q2 serving one decade up (r8, VERDICT r7 #4): the
    # 512K q2 story (`ann_big_disk_*_q2_sec`) at 4M, where flat brute
    # must scan the whole ~2.1 GB corpus while the packed layout's
    # probe filter prunes to ≤40 of 512 physical partitions. This is
    # the layout's honest win at the serving shape a 100 TB system
    # actually faces: concentrated lookups against cold storage.
    # r9: the flat corpus was written at SECTION START (see caller) —
    # the disk points run here, after the section's heavy work, so
    # the brute scan no longer reads pages the write just populated.
    # Measurement order inside the pair: packed first, brute LAST
    # (brute is the page-cache-sensitive side).
    _quiesce(spark)
    write_ivf_layout(huge_packed, huge_cents, f"{layout_dir}/packed")
    flat_df = spark.read.parquet(flat_p)
    pk_df, pk_cents = read_ivf_layout(spark, f"{layout_dir}/packed")
    hq2 = huge_q.limit(2).cache()
    hq2.count()
    q2_probe = collect_queries(hq2, centroids=pk_cents, nprobes=20).probes
    per_query["ann_huge_disk_q2_probed"] = len(q2_probe)  # of 512
    # r11: make BOTH sides of the pair actually cold (see
    # _drop_page_cache) — the flag says which population this record
    # measured, and the r11 band is derived from dropped-cache runs
    per_query["ann_huge_disk_cache_dropped"] = _drop_page_cache()
    # r9 (VERDICT r8 #2): the route decision for a PERSISTED layout —
    # partition pruning is physical on disk, so the router probes at
    # any corpus size or batch shape; the brute-vs-packed pair below
    # is exactly the cost of ignoring that decision
    per_query["ann_huge_disk_auto_route_choice"] = choose_ann_route(
        _du(flat_p), len(q2_probe) / 512, on_disk=True
    )
    t0 = time.time()
    _noop(ivf_topk_batch_packed(pk_df, pk_cents, hq2, 10, nprobes=20))
    per_query["ann_huge_disk_packed_q2_sec"] = round(time.time() - t0, 3)
    per_query["ann_huge_disk_flat_write_gap_sec"] = round(
        time.time() - _flat_written_at, 1
    )
    t0 = time.time()
    _noop(topk_per_query_np(flat_df, hq2, 10))
    per_query["ann_huge_disk_brute_q2_sec"] = round(time.time() - t0, 3)
    # r10 (VERDICT r9 #1): this pair gets BAND coverage (BANDS.json)
    # but deliberately NO stability retries — a second run of a disk
    # point reads the pages the first run just pulled into the page
    # cache, which is a different (warm) population, not a re-sample
    # of the cold one. The band stamp is the only honest flag here.
    # r11 (VERDICT r10 #5): the RATIO is the published claim (pruning
    # wins N× at the q2 serving shape), and the endpoint bands were
    # too loose to label it — brute's band spans 6.7× with page-cache
    # state while the ratio cancels most box noise (both sides read
    # the same storage in the same window). Band the ratio itself.
    per_query["ann_huge_disk_prune_ratio"] = round(
        per_query["ann_huge_disk_brute_q2_sec"]
        / max(per_query["ann_huge_disk_packed_q2_sec"], 1e-3), 2
    )
    hq2.unpersist()

    huge_packed.unpersist()
    huge_packed32.unpersist()


def sec_sf1(spark, per_query, mark):
    """sf1.0 scale point (VERDICT r4 #3). No sf1.0 testdata ships, so
    one is DERIVED: 10 replicas of the sf0.1 tables with disjoint id
    spaces and per-replica caesar-shifted text (replicas do NOT become
    near-dups — see _caesar_shift_expr). This substantiates one decade
    of data scaling for the text/dedup/graph paths; ratios near 10× =
    linear. bfs note: its frontier starts in replica 0 and returns the
    same rows, but every hop joins against the full 10× edge set — it
    measures the join scan scaling, not output scaling."""
    import shutil as _ssh
    import tempfile as _stf

    from pyspark.sql import functions as F

    from mcp_vector_search_spark.registry import SPARK_QUERIES

    # codegen warmup BEFORE the warm sf0.1 baselines: in the old
    # single-session bench the headline section had already compiled
    # most of these plans; an isolated section must pay that compile
    # in the warmup or the baseline (ratio denominator) absorbs it and
    # every ratio reads optimistic
    _warm_codegen(spark, SCALE_QS)
    mark("warmup_sf1")

    sdir = _stf.mkdtemp(prefix="bench_sf1_")
    try:
        REPL, OFF = 10, 1_000_000
        t0 = time.time()
        reps = F.broadcast(
            spark.range(REPL).select(F.col("id").cast("int").alias("_r"))
        )
        docs0 = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        # NO repartition here, deliberately: the sf0.1 baselines below
        # read the single-file sf0.1 tables (one scan partition), so
        # the derived sf1 tables must keep the same single-partition
        # write or the ratio compares a parallel sf1 scan against a
        # serial sf0.1 scan and reads as impossibly sub-linear
        # (measured 1.55x "scaling" on 10x data — a parallelism
        # artifact, r7). Both sides equally handicapped = a pure
        # data-scaling ratio, comparable with rounds 4-6.
        docs0.crossJoin(reps).select(
            (F.col("doc_id") + F.col("_r").cast("long") * OFF).alias("doc_id"),
            _caesar_shift_expr("text", REPL, "_r").alias("text"),
            "lang",
            F.concat(F.col("source"), F.lit("#"), F.col("_r")).alias("source"),
            "n_chars",
        ).write.parquet(f"{sdir}/documents.parquet")
        li0 = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        li0.crossJoin(reps).select(
            (F.col("l_orderkey") + F.col("_r").cast("long") * OFF).alias(
                "l_orderkey"
            ),
            (F.col("l_partkey") + F.col("_r").cast("long") * OFF).alias(
                "l_partkey"
            ),
            *[c for c in li0.columns if c not in ("l_orderkey", "l_partkey")],
        ).write.parquet(f"{sdir}/lineitem.parquet")
        per_query["sf1_build_sec"] = round(time.time() - t0, 3)
        for name in SCALE_QS:
            # fresh sf0.1 baseline HERE, not the headline number: the
            # headline times are cold-start measurements from another
            # subprocess, while these sf1 runs execute on a warmed
            # JVM — dividing warm by cold would bias every ratio
            # optimistic. Back-to-back same-state runs make the
            # ratio a pure data-scaling measurement.
            t0 = time.time()
            _noop(SPARK_QUERIES[name](spark, SF_DIR))
            base = per_query[f"sf01_{name}_warm"] = round(time.time() - t0, 3)
            t0 = time.time()
            _noop(SPARK_QUERIES[name](spark, sdir))
            per_query[f"sf1_{name}"] = round(time.time() - t0, 3)
            if base:
                per_query[f"sf1_ratio_{name}"] = round(
                    per_query[f"sf1_{name}"] / base, 2
                )
    finally:
        _ssh.rmtree(sdir, ignore_errors=True)
    mark("sf1_scale")


def sec_curate(spark, per_query, mark):
    """The composed curation pipeline as a per-round wall row
    (VERDICT r9 #7): `curate_corpus` — gopher quality filter → exact
    dedup → MinHash-LSH near-dedup → decontaminate → split → pack →
    bins — at SF_DIR, the same chain tools/measure_curate_scale.py
    measured one-off across a data decade in r9 (12.1 s at sf0.1,
    1.78x at 10x). Promoting the 1x side to the bench pins the
    composed pipeline against regression every round instead of once.
    Plan shapes are warmed untimed at sf0.001 so the timed runs
    measure execution, not first-compile (the same C1/C2 treatment
    the headline queries get)."""
    from mcp_vector_search_spark import io as eio
    from mcp_vector_search_spark.api import SparkProject

    par = spark.sparkContext.defaultParallelism

    def _curate_wall(sf_dir):
        docs = eio.table(spark, sf_dir, "documents").repartition(par).cache()
        docs.count()
        bench_docs = docs.limit(8).select("doc_id", "text").cache()
        bench_docs.count()
        p = SparkProject(spark, docs, docs.limit(0), spread=False)

        def _run():
            bins, _ = p.curate_corpus(
                max_tokens=2048,
                benchmark=bench_docs,
                quality_filter="gopher",
                n_shards=32,
                collect_report=False,
            )
            bins.count()

        return docs, bench_docs, _run

    # untimed warmup at sf0.001: same expression trees → compiled cache
    tiny = _tiny_dir()
    if os.path.isdir(tiny):
        tdocs, tbench, trun = _curate_wall(tiny)
        trun()
        tdocs.unpersist()
        tbench.unpersist()
    docs, bench_docs, run = _curate_wall(SF_DIR)
    per_query["curate_sf01_runs"] = _runs_until_stable(
        spark, 2, run, max_runs=3
    )
    per_query["curate_sf01_unstable"] = not _is_stable(per_query["curate_sf01_runs"])
    per_query["curate_sf01_sec"] = min(per_query["curate_sf01_runs"])
    docs.unpersist()
    bench_docs.unpersist()
    mark("curate")


SECTIONS = {
    "core": sec_core,
    "ann_small": sec_ann_small,
    "ann_big": sec_ann_big,
    "hybrid_scale": sec_hybrid_scale,
    "curate": sec_curate,
    "ann_huge": sec_ann_huge,
    "sf1": sec_sf1,
}


# ----------------------------------------------------------------------
# Runners
# ----------------------------------------------------------------------

def run_sections(names) -> dict:
    """Run the named sections in ONE Spark session (the per-subprocess
    entry; also the whole-bench path under SPARK_GRAFT_BENCH_INPROC)."""
    t0 = time.time()
    spark = _get_spark()
    per_query: dict = {}
    sect_t = [t0]

    def mark(section: str) -> None:
        now = time.time()
        per_query[f"wall_{section}_sec"] = round(now - sect_t[0], 1)
        sect_t[0] = now

    _warm_session(spark)
    for name in names:
        SECTIONS[name](spark, per_query, mark)
    return per_query


def _total_of(per_query: dict) -> float:
    """The headline total the driver's `value` field reports — the
    sum the pre-r8 linear bench accumulated as it went."""
    total = sum(per_query.get(n, 0.0) for n in HEADLINE)
    for extra in ("ann_brute_q256", "ann_ivf_q256", "bm25_query_indexed"):
        total += per_query.get(extra, 0.0)
    return total


def _run_section_subprocess(me: str, name: str, merged: dict,
                            timeout: float = 3600.0,
                            extra_env: dict | None = None):
    """Spawn one section subprocess; return its queries dict or None
    (recording section_<name>_error on failure). `timeout` is capped
    by the orchestrator to the remaining global budget so one stuck
    section can never consume the emission window (r11). `extra_env`
    carries the retry-reuse dir for sections that persist their built
    layouts (r11, VERDICT r10 #4)."""
    rec = None
    try:
        # mark the subprocess as part of the orchestrated official run:
        # host-affecting steps (page-cache eviction) default ON only
        # under this flag (r12, r11 ADVICE low)
        env = {**os.environ, "SPARK_GRAFT_BENCH_ORCHESTRATED": "1"}
        if extra_env:
            env.update(extra_env)
        proc = subprocess.run(
            [sys.executable, me, "--section", name],
            capture_output=True, text=True, timeout=timeout,
            env=env,
        )
        for line in reversed(proc.stdout.strip().splitlines()):
            line = line.strip()
            if line.startswith("{"):
                try:
                    rec = json.loads(line)
                    break
                except json.JSONDecodeError:
                    continue
        if proc.returncode != 0 or rec is None:
            tail = (proc.stderr or "")[-400:].replace("\n", " | ")
            merged[f"section_{name}_error"] = f"rc={proc.returncode} {tail}"
            # a record that PARSED still carries every measured row —
            # a nonzero exit during JVM teardown must not discard the
            # section's data (the pre-r9 orchestrator kept it; r9
            # review). The error key stays, so the failure is loud.
            return rec.get("queries", {}) if rec is not None else None
    except subprocess.TimeoutExpired:
        merged[f"section_{name}_error"] = f"timeout after {timeout:.0f}s"
        return None
    return rec.get("queries", {})


def _emit_partial(merged: dict, bands: dict, t_start: float) -> None:
    """Stamp + emit the merged record as it stands NOW. Called after
    every section (r11, VERDICT r10 #1): the driver parses the LAST
    JSON line, so each emission supersedes the previous — a mid-run
    kill loses only the in-flight section instead of the whole run
    (the r10 rc=124 failure lost 100% of a ~95%-complete run).
    stamp_band_outliers is idempotent (re-stamps compute the same
    values), so repeated calls on the growing dict are safe."""
    merged["wall_total_sec"] = round(time.time() - t_start, 1)
    stamp_band_outliers(merged, bands)
    emit_results(_total_of(merged), merged)


def _orchestrate() -> None:
    """Run every section as its own subprocess (fresh JVM each) and
    merge the per-section records — see the module docstring for why.
    r9 (VERDICT r8 #1): each section's canary pair is checked against
    the bench-start baseline; a contended serving section gets ONE
    re-run (first-run serving rows kept under *_run1), and a record
    produced under contention says so in its own keys.
    r11 (VERDICT r10 #1): a global wall-clock budget bounds the whole
    run — sections and retries that cannot fit are skipped with an
    in-record stamp, and the merged record is re-emitted after every
    section so the official record survives any outer kill."""
    t_start = time.time()
    # fail fast on a stale/missing bands artifact — BEFORE any section
    # burns wall-clock on a record whose stamps would be wrong (r10)
    bands = _load_bands()
    merged: dict = {}
    me = os.path.abspath(__file__)
    # the r10 run-1 failure mode this clamp exists for: the bench-start
    # baseline canary itself landed inside a contention burst (0.1647
    # vs the box's same-day 0.029 floor), so every section's 2.5-7x
    # inflated canaries read "clean" against it and no flag fired —
    # the band stamps were the only defense left standing. The floor
    # comes from BANDS.json (same-day clean standalone runs, same
    # provenance rules as the bands), so a contended bench start can
    # never silently disarm the per-section contention machinery.
    # min(), not replacement: a genuinely faster box keeps its own
    # measured baseline.
    measured = _canary_sec()
    merged["canary_baseline_measured_sec"] = measured
    floor = bands.get("canary_floor_sec")
    baseline = min(measured, floor) if floor else measured
    merged["canary_baseline_sec"] = baseline
    merged["loadavg_bench_start"] = _loadavg1()
    merged["bench_budget_sec"] = BENCH_BUDGET_SEC

    def _remaining() -> float:
        return BENCH_BUDGET_SEC - (time.time() - t_start)

    # one reuse root per run: REUSE_SECTIONS persist their built
    # layouts under it on first run; a contention retry (and the
    # hybrid_scale section, which shares ann_big's ×256 corpus +
    # packed layout) loads instead of rebuilding (r11, VERDICT r10 #4)
    import shutil as _sh_orch
    import tempfile as _tf_orch

    reuse_root = _tf_orch.mkdtemp(prefix="bench_reuse_")
    try:
        _orchestrate_sections(merged, bands, me, t_start, baseline,
                              _remaining, reuse_root)
    finally:
        _sh_orch.rmtree(reuse_root, ignore_errors=True)
    _emit_partial(merged, bands, t_start)
    errors = {k: v for k, v in merged.items() if k.endswith("_error")}
    if errors:
        # a crashed/timed-out section must be LOUD: the record above
        # still parses (the error keys ride in the compact line), but
        # a silently smaller headline total exiting 0 would read as a
        # speedup (r8 review)
        print(f"[bench] FAILED sections: {sorted(errors)}", file=sys.stderr)
        sys.exit(1)


def _namespace_probes(name: str, qrec: dict) -> None:
    """Rename a section record's raw sect_* probe keys to per-section
    names before merging — every section reports the same four."""
    for src, dst in (
        ("sect_canary_start_sec", f"canary_{name}_start_sec"),
        ("sect_canary_end_sec", f"canary_{name}_end_sec"),
        ("sect_loadavg_start", f"loadavg_{name}_start"),
        ("sect_loadavg_end", f"loadavg_{name}_end"),
    ):
        if src in qrec:
            qrec[dst] = qrec.pop(src)


def _orchestrate_sections(merged, bands, me, t_start, baseline,
                          _remaining, reuse_root) -> None:
    # r13 (VERDICT r12 #6): contention retries are DEFERRED until every
    # section — including the sf1 scale block, the repo's best 100 TB
    # parallelism evidence — has had its first run. The r12 orchestrated
    # run spent its budget retrying already-measured sections and then
    # skipped sf1 at the boundary (section_sf1_error: timeout after
    # 256s); a first measurement of new rows outranks a second
    # measurement of rows the record already holds (both band-stamped).
    pending_retries: list[str] = []
    for name in SECTION_ORDER:
        est = SECTION_EST_SEC.get(name, DEFAULT_SECTION_EST_SEC)
        if est > _remaining():
            # the section cannot fit: skip it LOUDLY rather than let
            # the driver's outer timeout kill the run (r10's rc=124) —
            # absent rows with a stamped reason beat a lost record
            merged[f"section_{name}_skipped_budget"] = [
                round(est, 1), round(_remaining(), 1)]
            print(f"[bench] section {name} SKIPPED (est {est:.0f}s > "
                  f"remaining {_remaining():.0f}s of budget "
                  f"{BENCH_BUDGET_SEC:.0f}s)", file=sys.stderr, flush=True)
            _emit_partial(merged, bands, t_start)
            continue
        t0 = time.time()
        print(f"[bench] section {name} ...", file=sys.stderr, flush=True)
        # cap the subprocess at the remaining budget (minus an emission
        # margin) so a hung section dies under OUR control, with the
        # partial record already on stdout. The floor is 30 s, NOT a
        # comfortable minimum: a floor above `remaining` would let a
        # late section overrun BENCH_BUDGET_SEC and eat the final
        # emission window (r11 ADVICE low) — the est check above
        # already refuses sections that genuinely need more time.
        sect_timeout = min(3600.0, max(30.0, _remaining() - 30.0))
        extra_env = (
            {"SPARK_GRAFT_BENCH_REUSE_DIR": reuse_root}
            if name in REUSE_SECTIONS else None
        )
        qrec = _run_section_subprocess(me, name, merged,
                                       timeout=sect_timeout,
                                       extra_env=extra_env)
        if qrec is not None and _canary_contended(qrec, baseline):
            # stamped NOW (the record must say which population these
            # rows came from even if the run dies before the deferred
            # retry); a clean retry later flips it to False — an
            # overwrite, never a key removal, so incremental emissions
            # stay monotonic
            merged[f"section_{name}_contended"] = True
            if RETRY_ON_CONTENTION.get(name) is not None:
                pending_retries.append(name)
        if qrec is not None:
            _namespace_probes(name, qrec)
            merged.update(qrec)
        merged[f"wall_sect_{name}_sec"] = round(time.time() - t0, 1)
        print(
            f"[bench] section {name} done in "
            f"{merged[f'wall_sect_{name}_sec']}s",
            file=sys.stderr, flush=True,
        )
        # incremental emission (r11): the record so far, superseded by
        # the next section's emission — the LAST JSON line always holds
        # the most complete record the run produced
        _emit_partial(merged, bands, t_start)
    for name in pending_retries:
        _take_deferred_retry(merged, bands, me, t_start, baseline,
                             _remaining, reuse_root, name)


def _take_deferred_retry(merged, bands, me, t_start, baseline,
                         _remaining, reuse_root, name) -> None:
    """One deferred contention retry (r13): the run-1 rows are already
    merged and emitted; the retry record overlays the serving rows it
    re-measures (run-1 values preserved under *_run1, exactly the r9
    contract), and every run-1-only row survives because the overlay
    only writes the keys the retry produced (r11 ADVICE high)."""
    retry_keys = RETRY_ON_CONTENTION[name]
    first_wall = merged.get(f"wall_sect_{name}_sec",
                            SECTION_EST_SEC.get(name, DEFAULT_SECTION_EST_SEC))
    # reuse-enabled sections retry serving-only off persisted
    # layouts — far cheaper than the first run's build+serve
    retry_est = RETRY_EST_SEC.get(
        name, max(SECTION_EST_SEC.get(name, DEFAULT_SECTION_EST_SEC),
                  first_wall))
    if retry_est > _remaining():
        # a retry that cannot fit is not taken (the r10 killer: retries
        # were taken unconditionally and blew the driver's window) —
        # the contended first run stays official, stamped both
        # contended and retry-skipped
        merged[f"section_{name}_retry_skipped_budget"] = [
            round(retry_est, 1), round(_remaining(), 1)]
        print(f"[bench] section {name} contended but retry "
              f"SKIPPED (est {retry_est:.0f}s > remaining "
              f"{_remaining():.0f}s)", file=sys.stderr, flush=True)
        return
    t0 = time.time()
    print(f"[bench] section {name} CONTENDED on run 1 — deferred "
          f"re-run now (after all first runs)", file=sys.stderr,
          flush=True)
    merged[f"section_{name}_retried"] = True
    extra_env = (
        {"SPARK_GRAFT_BENCH_REUSE_DIR": reuse_root}
        if name in REUSE_SECTIONS else None
    )
    qrec2 = _run_section_subprocess(
        me, name, merged,
        timeout=min(3600.0, max(30.0, _remaining() - 30.0)),
        extra_env=extra_env)
    if qrec2 is None:
        # the retry itself failed to produce a record: the complete
        # first run stays official (contended) — move the retry's
        # error under a key that does NOT end in _error, so a bench
        # whose only failure was a doomed retry doesn't exit nonzero
        # over data it fully recorded (r9 review)
        merged[f"section_{name}_retry_failed"] = merged.pop(
            f"section_{name}_error", "retry produced no record"
        )
        merged[f"wall_retry_{name}_sec"] = round(time.time() - t0, 1)
        _emit_partial(merged, bands, t_start)
        return
    # both results recorded: the re-run becomes the official rows; the
    # contended first-run serving rows AND its canary readings survive
    # under *_run1, so a reader can quantify how contended the
    # preserved rows were (r9 review). Rows the serving-only retry did
    # not re-measure (build rows, cold pairs, recalls) keep their
    # merged run-1 values untouched (r11 ADVICE high).
    for k in retry_keys:
        if k in merged:
            qrec2[f"{k}_run1"] = merged[k]
    qrec2[f"canary_{name}_run1"] = [
        merged.get(f"canary_{name}_start_sec"),
        merged.get(f"canary_{name}_end_sec"),
    ]
    merged[f"section_{name}_contended"] = _canary_contended(qrec2, baseline)
    _namespace_probes(name, qrec2)
    merged.update(qrec2)
    merged[f"wall_retry_{name}_sec"] = round(time.time() - t0, 1)
    print(f"[bench] section {name} retry done in "
          f"{merged[f'wall_retry_{name}_sec']}s", file=sys.stderr,
          flush=True)
    _emit_partial(merged, bands, t_start)


def main():
    argv = sys.argv[1:]
    if "--section" in argv:
        idx = argv.index("--section")
        if idx + 1 >= len(argv) or argv[idx + 1] not in SECTIONS:
            print(
                f"usage: bench.py --section {{{','.join(SECTION_ORDER)}}}",
                file=sys.stderr,
            )
            sys.exit(2)
        name = argv[idx + 1]
        # canary BEFORE the Spark session exists and AFTER the section's
        # work ends — both moments where nothing of ours is running, so
        # a slow canary means a neighbor owns the cores (r9, VERDICT
        # r8 #1)
        # two attempts 2 s apart, min wins: the first r9 run showed
        # start canaries reading 2-2.6x baseline in the moments right
        # after the PREVIOUS section's JVM exited (kernel reclaim of a
        # multi-GB heap) — a transient the settle outlasts, while real
        # neighbor contention inflates both attempts
        canary_start, load_start = _canary_sec(), _loadavg1()
        time.sleep(2)
        canary_start = min(canary_start, _canary_sec())
        per_query = run_sections([name])
        # stop the Spark session BEFORE the end canary: a live JVM's
        # concurrent GC (after the heavy sections churn a multi-GB
        # heap) is our own load and would read as neighbor contention,
        # falsely flagging a clean section (r9 review)
        try:
            from pyspark.sql import SparkSession

            active = SparkSession.getActiveSession()
            if active is not None:
                active.stop()
        except Exception:
            pass  # best-effort: a failed stop must not lose the record
        per_query["sect_canary_start_sec"] = canary_start
        per_query["sect_loadavg_start"] = load_start
        # same two-attempt damping as the start: the just-stopped
        # session's heap reclaim is the same transient class (the r9
        # run-2 ann_big end canary read 8.4x baseline on a clean box
        # and burned a full section re-run)
        canary_end = _canary_sec()
        time.sleep(2)
        per_query["sect_canary_end_sec"] = min(canary_end, _canary_sec())
        per_query["sect_loadavg_end"] = _loadavg1()
        # one JSON line, parsed by the orchestrator parent
        print(json.dumps(
            {"metric": "bench_section", "section": name, "queries": per_query}
        ))
        return
    if os.environ.get("SPARK_GRAFT_BENCH_INPROC"):
        t0 = time.time()
        per_query = run_sections(SECTION_ORDER)
        # real elapsed wall, not a sum of section marks (which would
        # drop any interval not covered by a mark — r8 review)
        per_query["wall_total_sec"] = round(time.time() - t0, 1)
        # stamping must never lose a measured record (r10 ADVICE): this
        # is the path SKILL.md prescribes while REGENERATING next
        # round's bands, when BANDS.json is legitimately stale/absent —
        # a post-measurement RuntimeError here would discard the very
        # measurements the new bands need. Emit unstamped with the
        # reason in-record instead. The orchestrator path keeps its
        # fail-fast (there the bands must be valid BEFORE any section
        # burns wall-clock).
        try:
            stamp_band_outliers(per_query)
        except RuntimeError as e:
            per_query["bands_error"] = str(e)[:200]
        emit_results(_total_of(per_query), per_query)
        return
    _orchestrate()


def _units_of(per_query: dict) -> dict:
    """Unit + better-direction per numeric metric row, derived from
    the row-naming convention (r13, VERDICT r12 minor #6): PERF_r12
    computed speedup = prev/now uniformly and reported five improved
    qps rows (and the pruning ratio) as regressions. The record now
    says which rows are rates so no reader has to guess."""
    units = {}
    for k, v in per_query.items():
        if not isinstance(v, (int, float)) or isinstance(v, bool):
            continue
        if k.endswith("_qps"):
            units[k] = "qps_higher_better"
        elif k.endswith("_ratio") or "_prune_ratio" in k:
            units[k] = "ratio_higher_better"
        elif "_recall_at_" in k:
            units[k] = "fraction_higher_better"
        elif k.endswith("_ms_per_query"):
            units[k] = "ms_lower_better"
    return units


def emit_results(total: float, per_query: dict) -> None:
    """Print the full record, then a compact (<COMPACT_GUARD char) summary as the
    guaranteed-LAST stdout line.

    Round 5's single giant json.dumps outgrew the driver's tail capture
    (BENCH_r05.json parsed=null — VERDICT r5 "What's wrong" #1), losing
    the official record of the total wall and the cold headline numbers.
    The driver parses the last JSON line; the compact one always fits
    the tail window whole.
    """
    sf = SF_DIR.rstrip("/").split("sf")[-1]
    print(
        json.dumps(
            {
                "metric": "headline_queries_total_wall_full",
                "value": round(total, 3),
                "unit": "sec",
                "queries": per_query,
                # r13 (VERDICT r12 minor #6): rate/ratio rows are
                # machine-identifiable — a cross-round comparator that
                # computes prev/now on every row inverts the direction
                # of qps/ratio/recall rows unless it knows their units
                "units": _units_of(per_query),
                "sf": float(sf),
            }
        )
    )
    compact_keys = HEADLINE + [
        "bm25_topk_warm",
        "hybrid_rrf_warm",
        "hybrid_batch_qps",
        "ann_recall_at_10",
        "ann_brute_ms_per_query",
        "ann_ivf_ms_per_query",
        "ann_big_brute_sec",
        "ann_big_ivf_sec",
        "ann_big_recall_at_10",
        "ann_big_ivfpq_sec",
    ] + EXTRA_COMPACT_KEYS
    compact = {k: per_query[k] for k in compact_keys if k in per_query}
    # section failures must be visible in the ONE line the driver
    # parses — truncated hard so they can't blow the length guard
    for k in sorted(per_query):
        if k.startswith("section_") and k.endswith("_error"):
            compact[k] = str(per_query[k])[:60]
        # contention verdicts ride in the same line (r9): a reader of
        # the compact record alone must know which population it is —
        # including a serving row whose stability retries exhausted
        # their cap without two agreeing runs. r10: AGGREGATED — a
        # noisy run carries 8+ individual section flags (~40 chars
        # each), which crowded 8 metric keys out of the line; one
        # list per verdict kind says the same thing in a third of the
        # budget (the FULL record keeps the individual keys).
        # truthiness check (r13): a deferred retry that came back clean
        # flips the stamp to False (an overwrite, for emission
        # monotonicity) — only the True stamps name a contended section
        if (k.startswith("section_") and k.endswith("_contended")
                and per_query[k]):
            compact.setdefault("sections_contended", []).append(
                k[len("section_"):-len("_contended")]
            )
        if k.startswith("section_") and k.endswith("_retried"):
            compact.setdefault("sections_retried", []).append(
                k[len("section_"):-len("_retried")]
            )
        if k.startswith("section_") and k.endswith("_retry_failed"):
            compact[k] = str(per_query[k])[:60]
        if k.endswith("_unstable"):
            compact[k] = per_query[k]
        # a row contradicting its documented isolated band is a
        # population caveat the compact-line reader must see too
        if k.endswith("_outside_band"):
            compact[k] = per_query[k]
    def _line() -> str:
        return json.dumps(
            {
                "metric": "headline_queries_total_wall",
                "value": round(total, 3),
                "unit": "sec",
                "queries": compact,
                "sf": float(sf),
            }
        )

    # the guard must never CRASH the emit (the r9 first run tripped the
    # old assert when three section flags joined the line — the full
    # record printed but the driver-parsed compact line was lost, the
    # exact r5 failure this function exists to prevent): if the line
    # outgrows the tail window, make room in this order (r13, VERDICT
    # r12 #2 — the r12 run shed three band-tracked DATA rows while
    # verbose [value, lo, hi] stamps stayed):
    #   1. `*_outside_band` stamps COMPRESSED into one
    #      `outside_band_rows` name list (the stamped value is already
    #      in the row's own data key; [lo, hi] stays in the full
    #      record) — honesty kept at ~1/3 the chars;
    #   2. false `_unstable` flags (a stable row loses nothing —
    #      but a compressed stamp outranks it, so flags go second);
    #   3. only then metric keys, LAST of compact_keys first;
    #   4. error detail strings, then the flag lists — a truncated-
    #      but-parseable record beats a line the driver's tail window
    #      cuts mid-JSON.
    sheddable = [k for k in sorted(compact) if k.endswith("_outside_band")]
    sheddable += [
        k for k in sorted(compact)
        if k.endswith("_unstable") and compact[k] is False
    ]
    sheddable += [k for k in reversed(compact_keys) if k in compact]
    sheddable += [k for k in sorted(compact) if k.endswith(("_error", "_retry_failed"))]
    sheddable += [
        k for k in ("sections_contended", "sections_retried") if k in compact
    ]
    dropped = 0
    line = _line()
    while len(line) >= COMPACT_GUARD and sheddable:
        k = sheddable.pop(0)
        compact.pop(k, None)
        if k.endswith("_outside_band"):
            # compressed, not dropped: the row NAME still rides the
            # line (value in its data key, band in the full record)
            compact.setdefault("outside_band_rows", []).append(
                k[: -len("_outside_band")]
            )
        else:
            dropped += 1
            compact["compact_dropped"] = dropped
        line = _line()
    if len(line) >= COMPACT_GUARD:  # pragma: no cover — ~120-char base object
        print(f"[bench] compact line still {len(line)} chars", file=sys.stderr)
    print(line)


if __name__ == "__main__":
    main()
