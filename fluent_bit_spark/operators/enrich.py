"""Enrichment joins (SURVEY.md §2.4).

Reference semantics:

- filter_lookup (upstream:plugins/filter_lookup/lookup.c): CSV → in-memory
  hash table; record key → result value, miss → record unchanged.
- filter_kubernetes / filter_geoip2: same hash-lookup shape with an API/DB
  source — a connector concern; the join shape is identical.
- filter_checklist (upstream:plugins/filter_checklist/checklist.c):
  membership test against a value list → set a flag.

Spark shift: every one of these is a **broadcast left-outer (or semi)
equi-join** — the dim side is small by construction (a lookup file), so we
force ``F.broadcast`` and the 10^12-row fact side never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def lookup_join(fact: DataFrame, dim: DataFrame, lookup_key: str,
                dim_key: str | None = None,
                result_keys: list[str] | None = None,
                ignore_case: bool = False) -> DataFrame:
    """filter_lookup: left-outer broadcast join; miss → nulls (record kept).

    ``result_keys`` restricts which dim columns are attached (the reference
    attaches exactly one ``result_key``; we allow several)."""
    dim_key = dim_key or lookup_key
    cols = result_keys or [c for c in dim.columns if c != dim_key]
    dim_sel = dim.select(F.col(dim_key).alias("__dk"), *cols)
    fk = F.col(lookup_key).cast("string")
    dk = F.col("__dk").cast("string")
    if ignore_case:
        fk, dk = F.lower(fk), F.lower(dk)
    out = fact.join(F.broadcast(dim_sel), fk == dk, "left")
    return out.drop("__dk")


def checklist_flag(fact: DataFrame, values: DataFrame, key: str,
                   list_key: str | None = None,
                   flag_col: str = "matched") -> DataFrame:
    """filter_checklist: set a boolean flag when key ∈ list (broadcast)."""
    list_key = list_key or key
    dim = values.select(F.col(list_key).alias("__ck")).distinct() \
                .withColumn("__hit", F.lit(True))
    out = fact.join(F.broadcast(dim),
                    F.col(key).cast("string") == F.col("__ck").cast("string"),
                    "left")
    return (out.withColumn(flag_col, F.coalesce(F.col("__hit"), F.lit(False)))
               .drop("__ck", "__hit"))


def checklist_keep(fact: DataFrame, values: DataFrame, key: str,
                   list_key: str | None = None) -> DataFrame:
    """Semi-join variant: keep only rows whose key is on the list."""
    list_key = list_key or key
    dim = values.select(F.col(list_key).alias(key)).distinct()
    return fact.join(F.broadcast(dim), key, "left_semi")


def salted_join(fact: DataFrame, dim: DataFrame, key: str,
                salt_buckets: int = 16,
                how: str = "inner") -> DataFrame:
    """Skew-safe equi-join for a dim too big to broadcast when the fact
    side has heavy-hitter keys: the fact's rows for one key spread
    across ``salt_buckets`` deterministic sub-keys (hash of the whole
    fact row — reproducible across retries, unlike rand()), the dim
    replicates once per bucket, and the join runs on (key, salt) so no
    single task owns a hot key's entire row set.

    Complements AQE's skew-join split (enabled in session.py), which
    only engages on sort-merge joins after runtime stats; salting is
    the explicit, planner-independent form. Per-key results are
    identical to the unsalted join (oracled).

    Only fact-preserving join types are valid: the dim side is
    replicated once per salt bucket, so a right/full outer join would
    emit each unmatched dim row ``salt_buckets`` times."""
    _SALT_SAFE = {"inner", "left", "left_outer", "leftouter",
                  "left_semi", "leftsemi", "semi",
                  "left_anti", "leftanti", "anti", "cross"}
    if how.lower() not in _SALT_SAFE:
        raise ValueError(
            f"salted_join replicates the dim side {salt_buckets}x, so "
            f"how={how!r} would duplicate unmatched dim rows; use one of "
            f"{sorted(_SALT_SAFE)} or an unsalted join")
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in fact.columns]),
                  F.lit(salt_buckets)).cast("int")
    f = fact.withColumn("__salt", salt)
    d = dim.withColumn(
        "__salt",
        F.explode(F.sequence(F.lit(0), F.lit(salt_buckets - 1))
                  .cast("array<int>")))
    out = f.join(d, [key, "__salt"], how)
    return out.drop("__salt")


def range_lookup(fact: DataFrame, fact_key: str, ranges: DataFrame,
                 start_col: str, end_col: str,
                 value_cols: list[str] | None = None,
                 bucket_bits: int = 16,
                 broadcast_dim: bool = True) -> DataFrame:
    """filter_geoip2-style range lookup (upstream:plugins/filter_geoip2
    — MaxMind CIDR blocks map an IP to a non-overlapping range row).

    A naive ``start <= key AND key <= end`` join is a nested-loop scan
    of facts × ranges. This is the bucketed re-expression: ranges
    explode into every ``2^bucket_bits``-wide bucket they overlap, the
    fact side buckets its key with one shift, and the join becomes an
    EQUI-join on the bucket plus a residual range filter. CIDR blocks
    ≥ /16 explode into exactly one bucket; a /8 block becomes 256
    bucket rows — dim growth is bounded by span/bucket, fact rows never
    duplicate (left-outer: a miss keeps the record, upstream posture).

    Ranges must be non-overlapping (MaxMind guarantee); with overlaps
    a fact row would match several ranges. Dim is broadcast by default
    (a geoip DB is a few hundred MB exploded — fits; set
    ``broadcast_dim=False`` to let AQE pick for huge range sets)."""
    value_cols = value_cols or [c for c in ranges.columns
                                if c not in (start_col, end_col)]
    bucketed = ranges.select(
        F.col(start_col).alias("__rs"), F.col(end_col).alias("__re"),
        *value_cols,
        F.explode(F.sequence(
            F.shiftright(F.col(start_col), bucket_bits),
            F.shiftright(F.col(end_col), bucket_bits))).alias("__b"))
    dim = F.broadcast(bucketed) if broadcast_dim else bucketed
    key = F.col(fact_key)
    out = fact.join(
        dim, (F.shiftright(key, bucket_bits) == F.col("__b"))
        & (key >= F.col("__rs")) & (key <= F.col("__re")), "left")
    return out.drop("__rs", "__re", "__b")


# ---------------------------------------------------------------------------
# TTL-cached dimension snapshot — the filter_kubernetes metadata cache
# ---------------------------------------------------------------------------


class DimCache:
    """TTL-cached dimension snapshot — filter_kubernetes' metadata
    cache (upstream:plugins/filter_kubernetes/kube_meta.c,
    ``Kube_Meta_Cache_TTL``) re-expressed for a batch / micro-batch
    engine. Upstream keeps an in-memory pod-metadata hash refreshed
    from the API server when entries age out; here the "API" is an
    externally-maintained dim table (parquet dir a sync job rewrites)
    and the cache is a PINNED cluster-side snapshot of it:

    - :meth:`resolve` returns the current snapshot; when the snapshot
      is older than ``ttl_seconds`` it re-reads the source path —
      picking up whatever the external refresher wrote — and bumps
      ``version``. ``ttl_seconds=0`` re-resolves every call (the
      always-fresh posture); ``float("inf")`` pins forever.
    - The snapshot is ``localCheckpoint(eager=True)``: the dim's rows
      are materialized cluster-side ONCE per refresh, so (a) every
      action between refreshes sees one consistent version even if
      the source dir is overwritten mid-run — the read-after-delete
      race a lazy re-planned frame has — and (b) the join side
      Catalyst broadcasts is a stable in-memory table, not a re-scan.
      A dim is broadcast-small by construction (filter_lookup /
      kubernetes scope); this is the batch analogue of upstream
      holding the cache in process memory.
    - Streaming: call :meth:`resolve` inside ``foreachBatch`` — fresh
      batches reuse the pinned snapshot, stale ones re-resolve, which
      is exactly the static-side-replan posture of a stream-static
      join with an explicit TTL instead of per-batch replan.

    ``clock`` is injectable (tests drive TTL expiry deterministically;
    production uses ``time.monotonic``).
    """

    def __init__(self, path: str, ttl_seconds: float = 300.0,
                 clock=None):
        import time as _time
        self.path = path
        self.ttl_seconds = float(ttl_seconds)
        self._clock = clock or _time.monotonic
        self._snapshot: DataFrame | None = None
        self._resolved_at: float | None = None
        self.version = 0

    def invalidate(self) -> None:
        """Drop the snapshot — the next resolve re-reads regardless of
        TTL (upstream's cache flush on watch disconnect)."""
        self._snapshot = None
        self._resolved_at = None

    def resolve(self, spark) -> DataFrame:
        now = self._clock()
        stale = (self._snapshot is None
                 or self._resolved_at is None
                 or (now - self._resolved_at) >= self.ttl_seconds)
        if stale:
            self._snapshot = (spark.read.parquet(self.path)
                              .localCheckpoint(eager=True))
            self._resolved_at = now
            self.version += 1
        return self._snapshot


def enrich_cached(fact: DataFrame, cache: DimCache, lookup_key: str,
                  dim_key: str | None = None,
                  result_keys: list[str] | None = None) -> DataFrame:
    """filter_kubernetes-shaped enrichment: :func:`lookup_join` against
    the cache's current snapshot (broadcast left-outer; misses keep the
    record with nulls — upstream leaves the record unenriched when the
    pod is unknown)."""
    return lookup_join(fact, cache.resolve(fact.sparkSession),
                       lookup_key, dim_key=dim_key,
                       result_keys=result_keys)


_DIM_CACHES: dict = {}


def dim_cache_for(path: str, ttl_seconds: float) -> DimCache:
    """Process-wide DimCache registry — config-driven pipelines build
    a fresh spec per run, but the CACHE must outlive specs for the TTL
    to mean anything (slices / micro-batches / repeated runs in one
    driver share the snapshot until it ages out)."""
    key = (path, float(ttl_seconds))
    if key not in _DIM_CACHES:
        _DIM_CACHES[key] = DimCache(path, ttl_seconds=ttl_seconds)
    return _DIM_CACHES[key]
