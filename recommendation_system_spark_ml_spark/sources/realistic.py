"""Realistic-similarity documents twin (build-once derived fixture).

Why it exists (r4 verdict, "Next #4"): the driver's synthetic
`documents` corpus draws every word from a ~31-word shared vocabulary,
which makes ~23% of ALL pairs exceed set-Jaccard 0.8 -- near-dup
wall-times there measure true-positive volume, not banding efficiency,
and LSH recall gates are trivially easy (any banding finds dups when
everything is a dup). This module derives a corpus with the statistics
real web/text dedup actually faces, so the bench numbers move when
banding efficiency moves:

- **long-tail vocabulary**: word ids are log-uniform (Zipf-like s~1)
  over a vocabulary ~50x the document count, so two unrelated docs
  share only a few head words (measured background set-Jaccard ~0.02
  at sf0.1 vs ~0.5+ in the driver corpus);
- **~1% near-dup rate**: one planted twin per 100 base docs (at the
  500-5,000-doc test scales a 0.1% production-like rate would plant a
  single twin -- statistically useless for a recall gate; DUP_EVERY is
  the knob), each a copy of its base with every token independently
  rewritten with prob 5% (expected set-Jaccard ~0.9 -- above the 0.8
  gate but not degenerate);
- **fully deterministic**: every random draw is an xxhash64 of
  (role, id, position) -- no rand(), no partitioning dependence; the
  corpus is a pure function of the document count, so any engine or
  session regenerates it bit-identically.

Derived data lives at a FIXED shared path (r9 verdict task 1 -- the
corpus must be readable by the DuckDB oracle through a STATIC
`read_parquet` glob, so the path cannot be PID-namespaced the way
other scratch artifacts are): first call builds into a PID-suffixed
temp dir and atomically os.rename()s it into place, so concurrent
sessions either see a complete corpus or build their own identical
copy (every byte is a pure deterministic function of the base-table
row count -- two builders produce the same data; rename-losers just
read the winner). Each artifact carries a `src_n` column (the base
table's row count) so one static SQL glob over every sf's artifact
can select the corpus matching whichever sf the comparison runs at:
`... FROM read_parquet('<glob>') WHERE src_n = (SELECT count(*) FROM
documents)`. The planted ground truth (twin doc_id = base doc_id +
TWIN_OFFSET) is what the recall gate in tests/test_similarity_dedup.py
scores candidates against.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from recommendation_system_spark_ml_spark.sources.catalog import row_count

_SHARED_ROOT = "/tmp/rsml_scratch/shared"
_DOCS_VERSION = "realistic_docs_v2"   # bump when the generator changes
_EMB_VERSION = "realistic_emb_v2"

# Static DuckDB-side globs (interpolated into oracle SQL at import):
# match the artifact for EVERY base count built on this machine; the
# src_n predicate picks the one equal to the registered view's count.
# Artifacts are keyed by n, NOT by sf dir: the corpus is a pure
# function of n, and two sf dirs with the same base count (the driver
# fixtures have 500 documents at BOTH sf0.001 and sf0.01) must share
# ONE artifact -- a per-sf layout made the glob union two identical
# corpora and double every oracle-side count (caught by the r10
# verify run: doc 0's twin counted twice per duplicated probe row).
DOCS_ORACLE_GLOB = f"{_SHARED_ROOT}/{_DOCS_VERSION}_n*/*.parquet"
EMB_ORACLE_GLOB = f"{_SHARED_ROOT}/{_EMB_VERSION}_n*/*.parquet"


def _shared_path(n: int, version: str) -> str:
    return os.path.join(_SHARED_ROOT, f"{version}_n{n}")


def _atomic_build(df: DataFrame, final: str) -> None:
    """Write df to a temp dir, then atomically rename into place.
    Readers (Spark and the DuckDB oracle glob) only ever see complete
    artifacts; a rename race means another process finished the same
    deterministic build first -- drop ours and read theirs."""
    tmp = f"{final}.build{os.getpid()}"
    df.write.mode("overwrite").parquet(tmp)
    try:
        os.rename(tmp, final)
    except OSError:
        shutil.rmtree(tmp, ignore_errors=True)

TWIN_OFFSET = 10_000_000  # planted near-dup id = base id + this
DUP_EVERY = 100           # one twin per this many base docs (1%)
MUTATE_PCT = 5            # per-token rewrite probability in a twin, %
MIN_LEN, LEN_SPREAD = 40, 160  # tokens per doc in [MIN_LEN, MIN_LEN+LEN_SPREAD]
_SEED = 823


def _word(content_id, pos, vocab: int, salt: str):
    """Deterministic log-uniform word draw: u in [0,1) from an xxhash64
    of (salt, content_id, pos), word id = floor(vocab^u) -- inverse-CDF
    sampling of an s~1 Zipf tail, all JVM expressions."""
    u = (F.pmod(F.xxhash64(F.lit(salt), content_id, pos, F.lit(_SEED)),
                F.lit(1_000_000)).cast("double") / 1_000_000.0)
    return F.concat(F.lit("w"), F.floor(F.pow(F.lit(float(vocab)), u))
                    .cast("long").cast("string"))


def realistic_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Load (building once per process) the realistic-similarity twin
    of `documents`, same schema subset (doc_id, text): row count
    matches the sf's documents table plus the planted twins
    (1 per DUP_EVERY base docs)."""
    n = row_count(spark, sf_dir, "documents")
    out = _shared_path(n, _DOCS_VERSION)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        vocab = max(1_000, 50 * n)
        base = (spark.range(n)
                .select(F.col("id").alias("doc_id"),
                        F.col("id").alias("content_id"),
                        F.lit(False).alias("is_twin")))
        twins = (spark.range(0, n, DUP_EVERY)
                 .select((F.col("id") + TWIN_OFFSET).alias("doc_id"),
                         F.col("id").alias("content_id"),
                         F.lit(True).alias("is_twin")))
        both = base.unionByName(twins)
        length = (F.lit(MIN_LEN)
                  + F.pmod(F.xxhash64(F.lit("len"), F.col("content_id"),
                                      F.lit(_SEED)),
                           F.lit(LEN_SPREAD + 1))).cast("int")

        def token(p):
            mutate = (F.col("is_twin")
                      & (F.pmod(F.xxhash64(F.lit("mut"), F.col("doc_id"),
                                           p, F.lit(_SEED)),
                                F.lit(100)) < MUTATE_PCT))
            return (F.when(mutate,
                           _word(F.col("doc_id"), p, vocab, "fresh"))
                    .otherwise(_word(F.col("content_id"), p, vocab, "base")))

        # map-only generation: one transform over sequence(1, length)
        # per row, no explode, no shuffle -- the build is a scan-free
        # range + parquet write
        _atomic_build(
            both.select("doc_id",
                        F.array_join(
                            F.transform(F.sequence(F.lit(1), length), token),
                            " ").alias("text"),
                        F.lit(n).cast("long").alias("src_n")),
            out)
    return spark.read.parquet(out)


# ----------------------------------------------------------------- embeddings

EMB_DIM = 64          # matches the driver embeddings table
EMB_SIGMA = 1.5       # within-cluster noise scale: cluster-mate cosine
#                       ~ 1/(1+sigma^2) ~ 0.31 -- just BELOW sim_lsh's
#                       0.4 near-dup threshold and right AT its Hamming
#                       prefilter design point (est cos 0.3), i.e. the
#                       hard-negative regime production banding faces
EMB_TWIN_EPS = 0.05   # twin perturbation: planted-pair cosine ~ 0.998
EMB_DUP_EVERY = 100   # one planted twin per this many base vectors


def _u(salt: str, a, b) -> "F.Column":
    """Deterministic uniform in [-1, 1] at 1e-3 grain from an xxhash64
    of (salt, a, b) -- no RNG, no partitioning dependence."""
    return ((F.pmod(F.xxhash64(F.lit(salt), a, b, F.lit(_SEED)),
                    F.lit(2001)) - F.lit(1000)).cast("double") / 1000.0)


def realistic_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Clustered long-tail twin of `embeddings` (r8 verdict task 7):
    the driver's near-uniform-sphere vectors are sign-LSH's WORST case
    (every band bucket loads evenly, so the bench row measures the
    fixture, not the engine -- the same story as the saturated
    dedup corpus). Real embedding corpora are topic-clustered, so this
    fixture concentrates vectors around C ~ n/50 cluster centers with
    mild-Zipf cluster sizes (cluster = floor(C * u^2): head size ~
    n/sqrt(C), so the sum of squared cluster sizes -- the bucket-join
    fan-in -- grows ~n*log n, near-linear) and plants one near-dup
    twin per {EMB_DUP_EVERY} base vectors (cosine ~0.998, the recall
    ground truth). Cluster-mates sit at cosine ~0.31: ABOVE the
    Hamming prefilter's 0.3 design point (they collide in buckets and
    must be killed by the exact re-rank -- hard negatives) but BELOW
    the 0.4 output threshold, so the returned pair set stays ~ the
    planted twins and wall time moves when banding efficiency moves.

    Same determinism/build contract as realistic_documents: every
    draw is an xxhash64 of (salt, id, dim), the corpus is a pure
    function of the driver embedding count, built once at the fixed
    shared path with an atomic rename."""
    n = row_count(spark, sf_dir, "embeddings")
    out = _shared_path(n, _EMB_VERSION)
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        c_clusters = max(20, n // 50)
        base = (spark.range(n)
                .select(F.col("id").alias("vec_id"),
                        F.col("id").alias("content_id"),
                        F.lit(False).alias("is_twin")))
        twins = (spark.range(0, n, EMB_DUP_EVERY)
                 .select((F.col("id") + TWIN_OFFSET).alias("vec_id"),
                         F.col("id").alias("content_id"),
                         F.lit(True).alias("is_twin")))
        both = base.unionByName(twins)
        u01 = (F.pmod(F.xxhash64(F.lit("cl"), F.col("content_id"),
                                 F.lit(_SEED)),
                      F.lit(1_000_000)).cast("double") / 1_000_000.0)
        cluster = F.floor(F.lit(float(c_clusters)) * u01 * u01).cast("long")

        def comp(d):
            center = _u("ctr", cluster, d)
            noise = _u("nz", F.col("content_id") * 64 + d, F.lit(0))
            tw = F.when(F.col("is_twin"),
                        _u("tw", F.col("vec_id") * 64 + d, F.lit(0))
                        * EMB_TWIN_EPS).otherwise(F.lit(0.0))
            return (center + noise * EMB_SIGMA + tw).cast("float")

        vec = F.array(*[comp(F.lit(d)) for d in range(EMB_DIM)])
        _atomic_build(
            both.select("vec_id", vec.alias("embedding"),
                        cluster.cast("int").alias("label"),
                        F.lit(n).cast("long").alias("src_n")),
            out)
    return spark.read.parquet(out)
