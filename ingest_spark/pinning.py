"""Single-evaluation pinning of multiply-referenced frames.

Six registry queries derive a fact-grain frame that is referenced
more than once in the same plan (probe + broadcast total, self-join
sides); Spark dedupes nothing beyond runtime ReuseExchange, so
unpinned, the full fact scan + shuffle can re-execute per reference
(r11 registry audit, VERDICT r10 §Next #1/#2). r11 pinned them with
``localCheckpoint()``; VERDICT r11 §Wrong #1 + ADVICE r11 flagged the
fault posture: localCheckpoint materializes onto NON-reliable
executor storage and TRUNCATES lineage, so on a real cluster one lost
executor (or dynamic-allocation decommission) after the pin makes the
blocks unrecoverable and ABORTS the job — where ``persist()`` keeps
lineage as a recompute fallback and reliable ``checkpoint()`` writes
to fault-tolerant storage.

``pin()`` centralizes the adjudicated policy (VERDICT r11 §Next #2;
ledger study ``pin_mode_ab``, tools/pin_persist_ab.py):

- **Reliable checkpoint dir configured** (``sc.setCheckpointDir`` to
  an HDFS/object-store path — the cluster deployment posture):
  eager ``checkpoint()``. Materialized once on fault-tolerant
  storage; executor loss cannot touch it. This is the 100-TB answer.
- **Local master** (``local[*]`` — the bench/test/driver regime):
  ``localCheckpoint()``. The executor-loss critique is MOOT on a
  single JVM (executor death == driver death == job death under
  every strategy), and the A/B measured localCheckpoint consistently
  FASTER than persist — persist builds Spark SQL's compressed
  COLUMNAR cache (per-column builders + compression), while
  localCheckpoint writes raw UnsafeRow blocks: persist/localCheckpoint
  wall ratios at sf1 were 0.84x (q15), 0.83x (market_basket), 0.67x
  (corpus_composition), 0.64x (pmi), 0.93-1.03x (rest) — persist
  never won.
- **Cluster WITHOUT a checkpoint dir**: ``persist(MEMORY_AND_DISK)``
  + eager ``count()``. Same deterministic single evaluation; lineage
  survives, so executor loss degrades to recompute instead of a job
  abort. The measured cache-build premium is the insurance price.

``PIN_MODE`` ("auto" default; env ``SPARK_GRAFT_PIN_MODE``) forces a
specific primitive ("persist" | "local_checkpoint" |
"reliable_checkpoint" | "none") — the A/B harness flips the module
global between variants; "none" returns the frame unpinned (lineage
only — whatever ReuseExchange dedupes at runtime).

CacheManager note (why persist is NOT the local default even though
it keeps lineage): ``persist`` keys the cache by analyzed plan, so a
SECOND call of the same registry function in one session silently
reuses the first call's blocks — a bench steady pass would measure a
warm cache and round-over-round comparison would break. None of the
pinned queries are bench-headline entries today, but
exact_substring_spans' seed pin IS, and the local-mode policy keeps
every pin re-materialized per call.
"""

from __future__ import annotations

import os

from pyspark import StorageLevel
from pyspark.sql import DataFrame

PIN_MODE = os.environ.get("SPARK_GRAFT_PIN_MODE", "auto")


def _has_reliable_checkpoint_dir(df: DataFrame) -> bool:
    try:
        d = df.sparkSession.sparkContext._jsc.sc().getCheckpointDir()
        return bool(d and d.isDefined())
    except Exception:
        return False


def _is_local_master(df: DataFrame) -> bool:
    try:
        return df.sparkSession.sparkContext.master.startswith("local")
    except Exception:
        return False


def resolve_mode(df: DataFrame) -> str:
    """The primitive pin() will use for this frame's session — split
    out so tests can assert the policy without materializing."""
    if PIN_MODE != "auto":
        return PIN_MODE
    if _has_reliable_checkpoint_dir(df):
        return "reliable_checkpoint"
    if _is_local_master(df):
        return "local_checkpoint"
    return "persist"


def pin(df: DataFrame) -> DataFrame:
    """Materialize a multiply-referenced frame exactly once and return
    the pinned handle every reference shares. See module docstring for
    the policy; correctness is mode-independent (asserted by the
    pin_mode_ab ledger checksums — identical (n, crc) across all
    modes on every audited query)."""
    mode = resolve_mode(df)
    if mode == "none":
        return df
    if mode == "local_checkpoint":
        return df.localCheckpoint()
    if mode == "reliable_checkpoint":
        return df.checkpoint(eager=True)
    pinned = df.persist(StorageLevel.MEMORY_AND_DISK)
    pinned.count()  # eager: every downstream reference reads blocks
    return pinned


# Input-size gate for pins whose duplicate subtree is cheap at bench
# scale (r16, VERDICT r15 §Next #1). Default 1 GiB: the r16 alternating
# collect-sink A/Bs showed the funnel/sketch/bm25 pins LOSING at both
# sf0.1 and sf1 (every or most adjacent pairs — a localCheckpoint round
# trip costs more than re-running a <= tens-of-MB scan subtree that
# executes in parallel inside one job), so the crossover sits above the
# largest locally measurable input; at 100 TB the gated pins fire
# unconditionally because any corpus-sized scan dwarfs the threshold.
# Read at call time, so a changed environment takes effect without a
# re-import.
def pin_min_input_bytes() -> int:
    return int(os.environ.get("SPARK_GRAFT_PIN_MIN_INPUT_BYTES", str(1 << 30)))


def _is_file_scan(leaf) -> bool:
    """A ``LogicalRelation`` over a ``HadoopFsRelation``: the (V1) file
    scan every built-in file source plans by default. A V2 file scan
    counts as unknown, the fail-safe side."""
    return (
        leaf.getClass().getSimpleName() == "LogicalRelation"
        and leaf.relation().getClass().getSimpleName() == "HadoopFsRelation"
    )


def plan_input_bytes(df: DataFrame) -> int | None:
    """Total file bytes read by the optimized plan: the sum of its
    leaves' sizeInBytes when EVERY leaf is a file scan — for a file
    scan that is the bytes on disk, the one stats estimate that stays
    reliable through explodes/joins/aggregates. Any other leaf makes
    the size unknown (None), and callers treat unknown as big (pin):
    a ``localCheckpoint``/``LogicalRDD`` leaf carries the optimizer's
    estimate of the plan it replaced (1.3e12 bytes for a 595 KB
    input was seen), a driver-local relation or an RDD scan reports a
    guess or the Long.MaxValue sentinel, and none of them is bytes.
    None also when the JVM probe fails."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        total = 0
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if not _is_file_scan(leaf):
                return None
            total += int(str(leaf.stats().sizeInBytes()))
        return total
    except Exception:
        return None


def pin_if_big(
    df: DataFrame,
    min_input_bytes: int | None = None,
    sized_by: DataFrame | None = None,
) -> DataFrame:
    """``pin()`` gated on the frame's input volume: below the
    threshold the frame is returned UNPINNED (the duplicate subtree
    re-executes — measured cheaper than a materialization round trip
    at bench scales), at or above it the normal pin policy applies
    (the duplicate subtree is a corpus re-scan — the thing pinning
    exists to kill at 100 TB). An unknown input size pins: the
    fail-safe direction at scale costs one round trip, the other
    direction costs a full re-scan. ``sized_by`` names the frame whose
    input decides (default ``df``): the corpus side of a plan that
    also joins a small driver-built table."""
    if min_input_bytes is None:
        min_input_bytes = pin_min_input_bytes()
    size = plan_input_bytes(df if sized_by is None else sized_by)
    if size is not None and size < min_input_bytes:
        return df
    return pin(df)
