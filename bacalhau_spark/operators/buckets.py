"""Banded-bucket candidate generation, stated once for every near-dup family.

Each family buckets its documents by a key — a minhash band, a dHash
band, a winnow fingerprint, a shingle — drops the buckets holding more
than BUCKET_CAP documents, and expands the a<b pairs of each bucket's
sorted id list in codegen, never with a self-join. A bucket of f
documents is f(f-1)/2 pairs, so one boilerplate key across a large
corpus would otherwise be a quadratic bucket no partitioning can save;
documents that pair only through such a key are not near-duplicates of
interest. The DuckDB oracles state the same cap as
``COUNT(*) OVER (PARTITION BY key) <= BUCKET_CAP``. The fixture maxima
are df=25 and bucket=4, so the cap does not fire at test scale.

The cap has one form: group by the key, collect the sorted id list,
keep the lists of at most BUCKET_CAP ids. It sorts nothing, and at
sf0.1 on 4 cores it was faster than a count over a window on the key
for the minhash, phash and shingle families. The trade: a bucket far above the cap
is collected in full into one reducer's memory (a collect_list buffer
does not spill) before the length check drops it, where the window form
sent the key to one task too but could spill. No fixture or benchmark
input has such a bucket; a corpus that does would drop the hot keys
before the collect with `live_keys`.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from bacalhau_spark.session import SessionCache
from bacalhau_spark.sources.indexstore import docs_fingerprint

BUCKET_CAP = 50

# a<b pairs over a sorted member list. A doc whose two band keys collide
# sits twice in its bucket's list; the a<b filter in pairs() drops the
# (x, x) self-pair that yields.
PAIR_EXPAND_SQL = ("flatten(transform(ids, (a, i) -> "
                   "transform(slice(ids, i + 2, size(ids)), "
                   "b -> struct(a AS a_id, b AS b_id))))")

# Past this many rows a probe set (a candidate pair's two sides, or an
# epoch's new doc ids) is no longer broadcast-sized: 1M pairs is ~48 MB
# serialized. Above it the join degrades to a shuffle instead of failing
# on the broadcast ceiling.
BROADCAST_MAX_PAIRS = 1_000_000
# Candidate-pair counts for the broadcast gates, per (source content,
# candidate kind). Not part of the index tier: clear_session_index keeps
# them (a cold measurement re-pays the index build, not the gate count).
CAND_COUNTS = SessionCache()


def within_cap(n: Column) -> Column:
    """True where a bucket of `n` documents is kept."""
    return n <= BUCKET_CAP


def band_cols(rows: DataFrame) -> list[str]:
    """The band columns b0..bN of `rows`, in band order."""
    return sorted((c for c in rows.columns if re.fullmatch(r"b\d+", c)),
                  key=lambda c: int(c[1:]))


def bands(rows: DataFrame, *carry: str) -> DataFrame:
    """(doc_id, *carry, bi, bkey): one row per band column b<bi> of
    `rows`, whose value is the bucket key within that band."""
    s = F.explode(F.array(*[
        F.struct(F.lit(int(c[1:])).alias("bi"), F.col(c).alias("bkey"))
        for c in band_cols(rows)])).alias("s")
    return rows.select("doc_id", *carry, s).select(
        "doc_id", *carry, "s.bi", "s.bkey")


def postings(rows: DataFrame, *keys: str) -> DataFrame:
    """(*keys, ids): each bucket's sorted doc_id list, buckets over the
    cap dropped."""
    return (rows.groupBy(*keys)
            .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
            .where(within_cap(F.size("ids"))))


def live_keys(rows: DataFrame, *keys: str) -> DataFrame:
    """The keys of the buckets within the cap — the probe-side form,
    for callers that join against the buckets instead of expanding
    them. A map-side-combined count, not a window."""
    return (rows.groupBy(*keys).agg(F.count("*").alias("n"))
            .where(within_cap(F.col("n"))).select(*keys))


def pairs(post: DataFrame, *carry: str) -> DataFrame:
    """(a_id, b_id, *carry): every a<b pair of each posting list with at
    least 2 ids, once per list (a pair sharing k buckets appears k
    times)."""
    return (post.where(F.size("ids") >= 2)
            .select(F.explode(F.expr(PAIR_EXPAND_SQL)).alias("p"), *carry)
            .select("p.a_id", "p.b_id", *carry)
            .where(F.col("a_id") < F.col("b_id")))


def gated_broadcast(frame: DataFrame, n_rows: int) -> DataFrame:
    """`frame` with a broadcast hint while `n_rows` is probe-sized."""
    return F.broadcast(frame) if n_rows <= BROADCAST_MAX_PAIRS else frame


def cand_count(spark: SparkSession, sf_dir: str, cand: DataFrame,
               kind: str) -> int:
    """Row count of the candidate index `kind` over `sf_dir`, cached per
    session on the source's content fingerprint (a rewritten fixture
    recounts)."""
    key = (os.path.realpath(sf_dir), docs_fingerprint(sf_dir), kind)
    return CAND_COUNTS.get_or_make(spark, key, cand.count)


def pair_sides(cand: DataFrame, n_pairs: int) -> DataFrame:
    """(a_id, b_id, doc_id): each candidate pair once per member id —
    the probe a verify step streams its per-doc table past in one scan,
    regrouping per pair. Broadcast while `n_pairs` is probe-sized."""
    return gated_broadcast(cand.select(
        "a_id", "b_id",
        F.explode(F.array("a_id", "b_id")).alias("doc_id")), n_pairs)
