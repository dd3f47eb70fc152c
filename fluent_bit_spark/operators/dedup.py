"""Deduplication operators for training-data pipelines.

Not present in the reference (fluent-bit has no dedup anywhere); these are
the large-scale-pipeline extensions the engine adds (task brief): exact
hash dedup, n-gram Jaccard pairs, MinHash+LSH, and SimHash. All are pure
DataFrame compositions — no UDFs — so they stay JVM-side and scale by
shuffle partitioning.

Scale notes (100 TB posture):
- exact: one shuffle on the content hash; map-side partial distinct.
- n-gram Jaccard: the shingle self-join is quadratic in bucket size —
  only usable as the verify stage after LSH candidate generation; the
  standalone form here is the small-scale oracle-checkable baseline.
- MinHash+LSH: linear signature pass (one explode + groupBy doc), then
  band-bucket join produces candidate pairs ∝ collisions, not n². This
  is the 10^12-row path.
- SimHash: one aggregate per doc (no explode — F.transform/filter over
  the in-row word array), band join on bit-prefix buckets.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

def _bytes_conf(spark, key: str, default: int) -> int:
    """A byte-valued Spark conf (plain number or k/m/g[b] suffix)."""
    import re as _re
    v = str(spark.conf.get(key, str(default))).strip().lower()
    m = _re.fullmatch(r"(\d+)\s*([kmg]?)b?", v)
    if not m:
        return default
    return int(m.group(1)) * {"": 1, "k": 1 << 10, "m": 1 << 20,
                              "g": 1 << 30}[m.group(2)]


def _estimated_scan_partitions(df: DataFrame,
                               parallelism: int) -> int | None:
    """Estimate the scan's FilePartition count from driver-side file
    metadata, using Spark's own packing formula (maxSplitBytes =
    min(maxPartitionBytes, max(openCost, total/parallelism)); files
    bin-pack up to that size). ``None`` when ``df`` isn't a file scan.

    This replaces a ``df.rdd.getNumPartitions()`` probe: the RDD
    conversion forces a full physical planning pass of the analyzed
    plan on the driver per call — avoidable overhead on production-
    width plans. Metadata reads short-circuit once the running total
    guarantees ≥ ``parallelism`` partitions, so a 100 TB listing stops
    after a handful of files."""
    try:
        files = df.inputFiles()
    except Exception:
        return None
    if not files:
        return None
    spark = df.sparkSession
    max_pb = _bytes_conf(spark, "spark.sql.files.maxPartitionBytes",
                         128 << 20)
    open_cost = _bytes_conf(spark, "spark.sql.files.openCostInBytes",
                            4 << 20)
    cap = parallelism * max_pb   # total ≥ cap ⇒ partitions ≥ parallelism
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    total = 0
    fs = None
    for f in files:
        jp = jvm.org.apache.hadoop.fs.Path(f)
        if fs is None:
            fs = jp.getFileSystem(hconf)
        try:
            total += int(fs.getFileStatus(jp).getLen()) + open_cost
        except Exception:
            return None
        if total >= cap:
            return parallelism
    max_split = min(max_pb, max(open_cost,
                                total // max(parallelism, 1) + 1))
    return max(1, -(-total // max_split))


def spread(df: DataFrame, min_parallelism: int | None = None) -> DataFrame:
    """Ensure the CPU-heavy stages downstream (shingle explode + k hashes
    per shingle: ~50× row expansion, interpreted higher-order functions)
    can use every core. A small-file scan yields 1-2 input partitions —
    at sf0.1 the whole MinHash pipeline was running on 1 of 32 cores
    (measured: 3.3s single-core shingle explode → ~0.2s spread). Gated on
    the ESTIMATED scan partition count (driver-side file metadata — no
    ``.rdd`` planning side channel), so a 100 TB scan whose split count
    already ≥ parallelism pays NO extra shuffle; frames with no file
    scan in their lineage (in-memory fixtures) pass through untouched.

    ``min_parallelism`` overrides the target (defaults to
    ``sparkContext.defaultParallelism``)."""
    p = min_parallelism or df.sparkSession.sparkContext.defaultParallelism
    est = _estimated_scan_partitions(df, p)
    if est is not None and est < p:
        return df.repartition(p)
    return df


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------


def content_hash(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sha2(c.cast("string"), 256)


def exact_dedup(df: DataFrame, content_cols: list[str],
                tiebreak: str) -> DataFrame:
    """Keep one row per distinct content (lowest ``tiebreak``). Hash-groupBy:
    one shuffle keyed on the content hash."""
    w = Window.partitionBy(*[F.col(c) for c in content_cols]) \
              .orderBy(F.col(tiebreak))
    return (df.withColumn("__rn", F.row_number().over(w))
              .filter(F.col("__rn") == 1).drop("__rn"))


# ---------------------------------------------------------------------------
# word shingles + n-gram Jaccard
# ---------------------------------------------------------------------------


def word_shingles(text_col: str | Column, n: int = 3) -> Column:
    """Distinct n-word shingles of a text column, as array<string> —
    built entirely with higher-order array functions (codegen'd)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    words = F.split(c, " ")
    idx = F.sequence(F.lit(0), F.size(words) - n)
    grams = F.transform(
        idx, lambda i: F.concat_ws(
            " ", *[F.element_at(words, (i + j + 1).cast("int"))
                   for j in range(n)]))
    return F.when(F.size(words) >= n, F.array_distinct(grams)) \
            .otherwise(F.array().cast("array<string>"))


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                        n: int = 3, threshold: float = 0.5,
                        allow_quadratic: bool = False) -> DataFrame:
    """All pairs (d1 < d2) with shingle-Jaccard ≥ threshold.
    Shingle-join based: |A∩B| from a self equi-join on shingle, |A∪B| =
    |A|+|B|−|A∩B|.

    GATED: the shingle self-join is quadratic in shingle-bucket size —
    correct, but a scale trap a user could point at 100 TB. Callers
    must pass ``allow_quadratic=True`` to acknowledge running the
    small-scale baseline; the production path is
    :func:`lsh_verified_pairs` (identical output semantics, verify
    restricted to LSH candidates)."""
    if not allow_quadratic:
        raise ValueError(
            "ngram_jaccard_pairs is the quadratic small-scale baseline; "
            "use lsh_verified_pairs at scale, or pass "
            "allow_quadratic=True to run it anyway")
    sh = (spread(df).select(F.col(id_col).alias("doc"),
                    F.explode(word_shingles(text_col, n)).alias("s")))
    cnt = sh.groupBy("doc").agg(F.count("*").alias("c"))
    a = sh.select(F.col("doc").alias("d1"), "s")
    b = sh.select(F.col("doc").alias("d2"), "s")
    inter = (a.join(b, "s")
              .filter(F.col("d1") < F.col("d2"))
              .groupBy("d1", "d2").agg(F.count("*").alias("inter")))
    out = (inter
           .join(cnt.select(F.col("doc").alias("d1"),
                            F.col("c").alias("c1")), "d1")
           .join(cnt.select(F.col("doc").alias("d2"),
                            F.col("c").alias("c2")), "d2")
           .withColumn("jaccard",
                       F.col("inter")
                       / (F.col("c1") + F.col("c2") - F.col("inter"))))
    return out.filter(F.col("jaccard") >= threshold) \
              .select("d1", "d2", "jaccard")


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------


# Portable hash family: identical arithmetic is expressible in ANSI SQL
# (DuckDB oracle) and Spark — md5-prefix base hash + affine permutations
# mod a Mersenne prime. Used by the oracle-checkable MinHash variant;
# xxhash64 (JVM-native, faster) stays the default at scale.
PORTABLE_PRIME = 2_147_483_647          # 2^31 − 1


def portable_base_hash(col: Column) -> Column:
    """string → int in [0, 2^28): first 7 hex chars of md5."""
    return F.conv(F.substring(F.md5(col), 1, 7), 16, 10).cast("long")


def _portable_perm(base: Column, i: int) -> Column:
    return (base * (2 * i + 3) + 7 * i + 1) % PORTABLE_PRIME


def shingle_frame(df: DataFrame, id_col: str, text_col: str,
                  shingle_n: int = 3) -> DataFrame:
    """(doc, s): one row per distinct shingle per doc, spread across
    cores before the ~50× explode (see :func:`spread`)."""
    return (spread(df).select(
        F.col(id_col).alias("doc"),
        F.explode(word_shingles(text_col, shingle_n)).alias("s")))


def minhash_signature(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 16, shingle_n: int = 3,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(id, sig: array<bigint>) — permutation i is xxhash64(shingle, i);
    the signature is the per-doc elementwise min.

    Design note (measured, sf0.1): explode + groupBy(doc).min beats the
    shuffle-free per-row formulation (``array_min`` over 16 nested
    ``transform`` lambdas) by ~2.7× — Spark evaluates higher-order
    functions INTERPRETED per element, while the exploded form is
    whole-stage-codegen'd and ``min`` partials combine map-side, so the
    groupBy shuffles only ``num_perm`` longs per doc. A second pitfall
    for the HOF form: pyspark binds an arity-2 transform lambda as
    (element, array_index), silently shadowing a closed-over seed."""
    return minhash_signature_from_shingles(
        shingle_frame(df, id_col, text_col, shingle_n), num_perm, hash_fn)


def minhash_signature_from_shingles(sh: DataFrame, num_perm: int = 16,
                                    hash_fn: str = "xxhash64") -> DataFrame:
    """Signature from a pre-built (doc, s) shingle frame — lets callers
    that also need the shingles elsewhere (the two-stage verify) build
    and optionally materialize them ONCE."""
    if hash_fn == "portable":
        base = portable_base_hash(F.col("s"))
        hashed = sh.select(
            "doc", *[_portable_perm(base, i).alias(f"h{i}")
                     for i in range(num_perm)])
    else:
        hashed = sh.select(
            "doc", *[F.xxhash64(F.col("s"), F.lit(i)).alias(f"h{i}")
                     for i in range(num_perm)])
    agg = hashed.groupBy("doc").agg(
        *[F.min(f"h{i}").alias(f"m{i}") for i in range(num_perm)])
    return agg.select(
        "doc", F.array(*[F.col(f"m{i}") for i in range(num_perm)])
        .alias("sig"))


def minhash_lsh_pairs(df: DataFrame, id_col: str, text_col: str,
                      num_perm: int = 16, bands: int = 4,
                      threshold: float = 0.5,
                      shingle_n: int = 3,
                      hash_fn: str = "xxhash64",
                      shingles: DataFrame | None = None,
                      materialize: bool | str = False) -> DataFrame:
    """Banded LSH candidate generation + signature-similarity verify.

    bands×rows = num_perm; a pair collides if any band's row-slice hashes
    equal. est_jaccard = fraction of equal signature positions (unbiased
    MinHash estimator). Returns (d1, d2, est_jaccard ≥ threshold).

    ``hash_fn='portable'`` switches both the permutation family and the
    band hash to md5+affine arithmetic that an ANSI-SQL engine can
    reproduce exactly — the DuckDB-oracled configuration
    (queries.dedup_minhash_portable); xxhash64 is the faster default.

    ``materialize=True`` localCheckpoints the (small: num_perm longs/doc)
    signature frame and switches the band self-join to an IDS-ONLY
    exchange — each band entry then carries (doc, band, bh) instead of
    dragging the full signature array through the widest shuffle of the
    chain (bands× per doc per side); signatures re-attach to the
    surviving candidate pairs via two narrow equi-joins. Identical
    output; at 16M docs / 4 bands this cuts the band-exchange payload
    ~5×. Off by default because without a checkpoint the three sig
    branches would re-run the signature aggregation.
    """
    rows = num_perm // bands
    sig = minhash_signature_from_shingles(
        shingles if shingles is not None
        else shingle_frame(df, id_col, text_col, shingle_n),
        num_perm, hash_fn=hash_fn)
    if materialize:
        sig = sig.localCheckpoint(eager=True)

    def band_hash(b: int) -> Column:
        if hash_fn == "portable":
            acc = F.lit(0).cast("bigint")
            for r in range(rows):
                acc = (acc * 1_000_003 + F.col("sig")[b * rows + r]) \
                    % PORTABLE_PRIME
            return acc
        return F.xxhash64(*[F.col("sig")[b * rows + r]
                            for r in range(rows)])

    if materialize:
        band_entries = sig.select(
            "doc",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
                for b in range(bands)])).alias("e")
        ).select("doc", "e.band", "e.bh")
        a = band_entries.select(F.col("doc").alias("d1"), "band", "bh")
        b = band_entries.select(F.col("doc").alias("d2"), "band", "bh")
        cand = (a.join(b, ["band", "bh"])
                 .filter(F.col("d1") < F.col("d2"))
                 .select("d1", "d2").distinct()
                 .join(sig.select(F.col("doc").alias("d1"),
                                  F.col("sig").alias("sig1")), "d1")
                 .join(sig.select(F.col("doc").alias("d2"),
                                  F.col("sig").alias("sig2")), "d2"))
    else:
        band_entries = sig.select(
            "doc", "sig",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"), band_hash(b).alias("bh"))
                for b in range(bands)])).alias("e")
        ).select("doc", "sig", "e.band", "e.bh")
        a = band_entries.select(F.col("doc").alias("d1"),
                                F.col("sig").alias("sig1"), "band", "bh")
        b = band_entries.select(F.col("doc").alias("d2"),
                                F.col("sig").alias("sig2"), "band", "bh")
        # Dedupe candidate pairs keyed on (d1, d2) ONLY — a pair
        # colliding in k bands appears k times, and a .distinct() over
        # (d1,d2,sig1,sig2) would hash and shuffle two 16×8-byte arrays
        # per row just to compare keys that the ids alone determine (sig
        # is a function of doc). first() keeps one sig pair per group
        # with map-side partials, so the exchange carries each surviving
        # pair once. Measured at sf0.1: 5.07s → ~2× faster (r01 → r02).
        cand = (a.join(b, ["band", "bh"])
                 .filter(F.col("d1") < F.col("d2"))
                 .groupBy("d1", "d2")
                 .agg(F.first("sig1").alias("sig1"),
                      F.first("sig2").alias("sig2")))
    est = cand.withColumn(
        "est_jaccard",
        F.size(F.filter(F.zip_with("sig1", "sig2",
                                   lambda x, y: x == y),
                        lambda v: v)) / F.lit(num_perm))
    return est.filter(F.col("est_jaccard") >= threshold) \
              .select("d1", "d2", "est_jaccard")


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------


def simhash(text_col: str | Column, bits: int = 32,
            hash_fn: str = "xxhash64") -> Column:
    """Per-row SimHash over word hashes, no explode: majority vote per bit
    across the row's word-hash array, folded into one integer.
    ``hash_fn='portable'``: md5-prefix word hashes reproducible in ANSI
    SQL (the DuckDB-oracled configuration)."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    if hash_fn == "portable":
        hashes = F.transform(
            F.split(c, " "),
            lambda w: F.conv(F.substring(F.md5(w), 1, 15), 16, 10)
                       .cast("long"))
    else:
        hashes = F.transform(F.split(c, " "), lambda w: F.xxhash64(w))
    half = F.size(hashes).cast("double") / 2.0

    def ones_at(mask: int):
        # single-arg lambda only: an arity-2 filter lambda receives the
        # array INDEX as its second argument, shadowing the closed-over
        # mask (same pitfall as minhash_signature — see its docstring)
        return F.size(F.filter(
            hashes, lambda h: h.bitwiseAND(F.lit(mask)) != 0))

    bit_terms = []
    for i in range(bits):
        bit_terms.append(
            F.when(ones_at(1 << i) > half, F.lit(1 << i).cast("bigint"))
            .otherwise(F.lit(0).cast("bigint")))
    out = bit_terms[0]
    for t in bit_terms[1:]:
        out = out + t
    return out


def simhash_pairs(df: DataFrame, id_col: str, text_col: str,
                  bits: int = 32, bands: int = 4,
                  max_hamming: int = 3,
                  hash_fn: str = "xxhash64") -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming, candidate
    generation by band-equality (pigeonhole: distance < bands ⇒ some band
    equal). Returns (d1, d2, hamming)."""
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    sigs = spread(df).select(F.col(id_col).alias("doc"),
                          simhash(text_col, bits, hash_fn=hash_fn).alias("sh"))
    entries = sigs.select(
        "doc", "sh",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.shiftright(F.col("sh"), b * band_bits)
                     .bitwiseAND(F.lit(mask)).alias("bv"))
            for b in range(bands)])).alias("e")
    ).select("doc", "sh", "e.band", "e.bv")
    a = entries.select(F.col("doc").alias("d1"), F.col("sh").alias("s1"),
                       "band", "bv")
    b = entries.select(F.col("doc").alias("d2"), F.col("sh").alias("s2"),
                       "band", "bv")
    cand = (a.join(b, ["band", "bv"])
             .filter(F.col("d1") < F.col("d2"))
             .select("d1", "d2", "s1", "s2").distinct())
    out = cand.withColumn(
        "hamming", F.bit_count(F.col("s1").bitwiseXOR(F.col("s2"))))
    return out.filter(F.col("hamming") <= max_hamming) \
              .select("d1", "d2", "hamming")


def lsh_verified_pairs(df: DataFrame, id_col: str, text_col: str,
                       num_perm: int = 16, bands: int = 4,
                       cand_threshold: float = 0.2,
                       jaccard_threshold: float = 0.5,
                       shingle_n: int = 3,
                       hash_fn: str = "portable",
                       materialize: bool | str = False) -> DataFrame:
    """The canonical two-stage scale dedup: MinHash+LSH candidate
    generation (cheap, linear) followed by EXACT shingle-Jaccard verify
    restricted to candidate pairs — the standalone all-pairs shingle
    self-join is quadratic (see ngram_jaccard_pairs), but scoped to LSH
    collisions it touches only O(candidates) rows. Returns
    (d1, d2, jaccard ≥ jaccard_threshold).

    The shingle frame feeds FOUR plan branches (signature, per-doc
    counts, both verify join sides); built lazily Catalyst recomputes
    it per branch (reuse only happens at exchange boundaries).
    ``materialize=True`` localCheckpoints it once — worth it whenever
    the explode is non-trivial; on a cluster use a reliable checkpoint
    dir instead if executor loss mid-query must be survivable.

    ``materialize="disk"`` is the VOLUME mode: the shingle frame is
    ~40-50× the corpus in rows, and localCheckpoint stores it as
    DESERIALIZED MEMORY_AND_DISK blocks — measured at 16M docs that is
    ~1.3 GB/partition (~40 GB total), which fills the unified region's
    protected storage half and starves the signature hash-aggregate
    into AGGREGATE_OUT_OF_MEMORY. DISK_ONLY persist keeps the frame
    out of the heap entirely (serialized, one sequential write/read
    per branch) while still computing the explode once."""
    sh = shingle_frame(df, id_col, text_col, shingle_n)
    if materialize == "disk":
        sh = sh.persist(StorageLevel.DISK_ONLY)
    elif materialize:
        sh = sh.localCheckpoint(eager=True)
    cand = minhash_lsh_pairs(df, id_col, text_col, num_perm, bands,
                             cand_threshold, shingle_n, hash_fn,
                             shingles=sh, materialize=materialize) \
        .select("d1", "d2")
    cnt = sh.groupBy("doc").agg(F.count("*").alias("c"))
    sh1 = sh.select(F.col("doc").alias("d1"), "s")
    sh2 = sh.select(F.col("doc").alias("d2"), "s")
    inter = (cand.join(sh1, "d1").join(sh2, ["d2", "s"])
                 .groupBy("d1", "d2").agg(F.count("*").alias("inter")))
    out = (inter
           .join(cnt.select(F.col("doc").alias("d1"),
                            F.col("c").alias("c1")), "d1")
           .join(cnt.select(F.col("doc").alias("d2"),
                            F.col("c").alias("c2")), "d2")
           .withColumn("jaccard",
                       F.col("inter")
                       / (F.col("c1") + F.col("c2") - F.col("inter"))))
    from fluent_bit_spark.caching import carry
    res = out.filter(F.col("jaccard") >= jaccard_threshold) \
             .select("d1", "d2", "jaccard")
    return carry(res, sh) if materialize == "disk" else res


# ---------------------------------------------------------------------------
# near-dup pair → canonical-doc resolution (connected components)
# ---------------------------------------------------------------------------


def resolve_duplicate_groups(docs: DataFrame, pairs: DataFrame,
                             id_col: str = "doc_id",
                             d1: str = "d1", d2: str = "d2",
                             max_iters: int = 25,
                             checkpoint: str = "local",
                             probe_every: int = 1) -> DataFrame:
    """Turn near-dup PAIRS into the actual deduplicated table: group
    pairs into connected components and pick one canonical doc per
    component. Returns (``id_col``, canonical_id, keep) for EVERY doc in
    ``docs`` — docs in no pair are their own canonical, ``keep`` is true
    exactly once per component (the minimum id, a deterministic
    tiebreak both engines order identically).

    Algorithm: iterative min-label propagation — every node starts
    labeled with itself; each round a node takes the min of its label
    and its neighbors' labels; converges in O(component diameter)
    rounds. Near-dup components are small clusters of re-posted docs,
    so a handful of rounds in practice; ``max_iters`` guards
    pathological chains. No GraphFrames dependency.

    Scale shape: each round is one equi-join (labels ⋈ edges) + one
    groupBy-min with map-side partials — all key-partitioned shuffles,
    no broadcast of anything unbounded. Propagation runs ONLY over
    nodes that appear in at least one pair (a doc in no pair can never
    change label), so per-round shuffle volume is proportional to the
    duplicate population, not the corpus: at a 10-15% dup rate the loop
    touches ~1/7th of the rows it otherwise would, and the full-corpus
    table is joined exactly once at the end. ``pairs`` and each round's
    labels are materialized per round so the (possibly expensive)
    pair-generation plan runs ONCE and lineage doesn't grow with
    iterations. ``checkpoint="local"`` (default) uses
    ``localCheckpoint`` — zero-config, fast, but executor loss during
    the loop fails the job; ``checkpoint="reliable"`` uses
    ``.checkpoint()`` against the configured checkpoint dir
    (``spark.sparkContext.setCheckpointDir``) so the loop survives
    executor loss on a real cluster.

    ``probe_every=k`` runs the driver-side convergence count every k
    rounds instead of every round (k-1 extra cheap propagation rounds
    traded against k-1 fewer driver round-trips — on a real cluster
    each probe is a full job submission). Convergence detection and the
    non-convergence raise are unchanged: a probe observing zero changed
    labels means the labels are a fixed point regardless of how many
    un-probed rounds preceded it.

    Raises ``RuntimeError`` if the loop exhausts ``max_iters`` without
    converging (component min-eccentricity > max_iters): a partially
    propagated result would silently carry non-canonical canonical_ids
    and multiple keep=true rows per component."""
    if checkpoint not in ("local", "reliable"):
        raise ValueError(f"checkpoint must be 'local' or 'reliable', "
                         f"got {checkpoint!r}")
    if probe_every < 1:
        raise ValueError(f"probe_every must be >= 1, got {probe_every}")

    def _ckpt(df: DataFrame) -> DataFrame:
        if checkpoint == "reliable":
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    edges = _ckpt(pairs.select(F.col(d1).alias("a"), F.col(d2).alias("b"))
                  .union(pairs.select(F.col(d2).alias("a"),
                                      F.col(d1).alias("b"))))
    # Both directions are present, so column "a" alone enumerates every
    # endpoint; docs outside this set keep label == self by definition.
    labels = _ckpt(edges.select(F.col("a").alias("node")).distinct()
                   .withColumn("label", F.col("node")))
    converged = False
    for it in range(max_iters):
        msgs = (edges.join(labels, edges["a"] == labels["node"])
                .select(F.col("b").alias("node"), "label"))
        new_labels = _ckpt(labels.union(msgs)
                           .groupBy("node")
                           .agg(F.min("label").alias("label")))
        # probe on the configured cadence, and always on the last
        # permitted round (the non-convergence raise needs the answer)
        if (it + 1) % probe_every == 0 or it == max_iters - 1:
            changed = (new_labels.alias("n")
                       .join(labels.alias("o"), "node")
                       .filter(F.col("n.label") != F.col("o.label"))
                       .limit(1).count())
            if changed == 0:
                labels = new_labels
                converged = True
                break
        labels = new_labels
    if not converged:
        raise RuntimeError(
            f"resolve_duplicate_groups did not converge in {max_iters} "
            f"rounds — a component chain is longer than max_iters; raise "
            f"max_iters (a partial result would be silently wrong)")
    return (docs.select(F.col(id_col))
            .join(labels.withColumnRenamed("node", id_col), id_col, "left")
            .select(F.col(id_col),
                    F.coalesce("label", id_col).alias("canonical_id"),
                    (F.coalesce("label", id_col) == F.col(id_col))
                    .alias("keep")))


# ---------------------------------------------------------------------------
# Incremental dedup: new batch vs an existing (already-deduped) corpus
# ---------------------------------------------------------------------------


def band_hash_col(sig_col: Column, b: int, rows: int,
                  hash_fn: str = "xxhash64") -> Column:
    """Hash of band ``b``'s row-slice of a MinHash signature array —
    the same two families minhash_lsh_pairs uses (xxhash64 fast path /
    portable affine-mod for SQL-reproducible oracles)."""
    if hash_fn == "portable":
        acc = F.lit(0).cast("bigint")
        for r in range(rows):
            acc = (acc * 1_000_003 + sig_col[b * rows + r]) \
                % PORTABLE_PRIME
        return acc
    return F.xxhash64(*[sig_col[b * rows + r] for r in range(rows)])


def corpus_artifacts(corpus: DataFrame, id_col: str, text_col: str, *,
                     num_perm: int = 16, shingle_n: int = 3,
                     hash_fn: str = "xxhash64"
                     ) -> tuple[DataFrame, DataFrame]:
    """The precomputable corpus-side state for :func:`dedup_vs_corpus`:
    ``(hashes, sigs)`` = (distinct content hashes, MinHash signatures).

    At production scale these are MAINTAINED tables (append each
    accepted batch's hashes/sigs after ingest), so deduping a new crawl
    against a 100 TB corpus never re-reads or re-shingles the corpus
    text — the corpus side of every join below is narrow (one sha256 /
    num_perm longs per doc), and can be bucketed on its join key to
    make the anti-join exchange one-sided."""
    hashes = corpus.select(
        content_hash(F.col(text_col)).alias("h")).distinct()
    sigs = minhash_signature(corpus, id_col, text_col,
                             num_perm=num_perm, shingle_n=shingle_n,
                             hash_fn=hash_fn)
    return hashes, sigs


def corpus_band_table(corpus_sigs: DataFrame, *, num_perm: int = 16,
                      bands: int = 4,
                      hash_fn: str = "xxhash64") -> DataFrame:
    """(doc, sig, band, bh) — the corpus side of the LSH band join,
    precomputable alongside :func:`corpus_artifacts`. Persist it
    BUCKETED on (band, bh) (``sources.tables.write_bucketed``) and the
    per-batch band join reads the corpus side with NO exchange — only
    the (small) new batch shuffles, which is what makes per-batch cost
    ∝ batch instead of ∝ corpus (BENCH/DEDUP.md vs-corpus reading)."""
    rows = num_perm // bands
    return corpus_sigs.select(
        "doc", "sig",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     band_hash_col(F.col("sig"), b, rows, hash_fn)
                     .alias("bh"))
            for b in range(bands)])).alias("e")
    ).select("doc", "sig", "e.band", "e.bh")


def append_corpus_artifacts(accepted: DataFrame, id_col: str,
                            text_col: str, *, num_perm: int = 16,
                            shingle_n: int = 3,
                            hash_fn: str = "xxhash64",
                            bands: int | None = None,
                            dedup_batch: bool = True
                            ) -> tuple[DataFrame, DataFrame,
                                       DataFrame | None]:
    """Artifact DELTAS for folding an ACCEPTED batch into the
    maintained corpus tables — the missing half of the incremental
    story: ``dedup_vs_corpus`` reads the artifacts, this produces what
    the ingest job appends after a batch passes.

    Returns ``(hashes_delta, sigs_delta, bands_delta)`` computed from
    the batch ALONE — cost ∝ batch size, the corpus is never re-read,
    re-hashed, or re-distincted (a corpus-wide ``distinct`` per batch
    would be the scale bug this function exists to avoid).

    Correctness invariant: when ``accepted`` is exactly the survivor
    set of :func:`dedup_vs_corpus` against the same artifacts, the
    hash delta is DISJOINT from the maintained hash table (exact dups
    were anti-joined away), so a plain append preserves the table's
    distinct-set property with no reconciliation step. Near-dup
    survivors (est < threshold) contribute their own signatures, by
    design — the corpus's neighborhood grows with what it accepts.

    ``dedup_batch`` collapses WITHIN-batch exact copies (batch-sized
    shuffle) before computing deltas, since ``dedup_vs_corpus``
    deliberately leaves those in. ``bands`` additionally returns the
    pre-expanded :func:`corpus_band_table` delta for a maintained
    (band, bh)-bucketed band table.
    """
    batch = accepted
    if dedup_batch:
        batch = exact_dedup(accepted, [text_col], tiebreak=id_col)
    hashes, sigs = corpus_artifacts(batch, id_col, text_col,
                                    num_perm=num_perm,
                                    shingle_n=shingle_n, hash_fn=hash_fn)
    band_tbl = None
    if bands is not None:
        band_tbl = corpus_band_table(sigs, num_perm=num_perm,
                                     bands=bands, hash_fn=hash_fn)
    return hashes, sigs, band_tbl


def dedup_vs_corpus(new: DataFrame, id_col: str, text_col: str,
                    corpus_hashes: DataFrame, corpus_sigs: DataFrame, *,
                    num_perm: int = 16, bands: int = 4,
                    threshold: float = 0.5, shingle_n: int = 3,
                    hash_fn: str = "xxhash64",
                    corpus_bands: DataFrame | None = None) -> DataFrame:
    """Survivors of ``new`` after dedup AGAINST the corpus (incremental
    ingest: "is today's crawl already in the training set?").

    Two stages, both one-sided — the corpus contributes only its
    precomputed artifacts (:func:`corpus_artifacts`), never text:

    1. exact: left_anti join of ``new``'s content hashes against
       ``corpus_hashes`` (hash keys — skew impossible).
    2. near-dup: MinHash signatures of the stage-1 survivors, banded
       LSH join against ``corpus_sigs``'s bands, signature-similarity
       estimate on the candidates; a new doc with est_jaccard ≥
       ``threshold`` to ANY corpus doc is dropped.

    Self-duplicates WITHIN the new batch are out of scope (compose
    with minhash_lsh_pairs/resolve_duplicate_groups for that) — the
    returned frame keeps every ``new`` column unchanged.

    ``corpus_bands``: a pre-materialized :func:`corpus_band_table`
    (ideally a (band, bh)-bucketed table) replaces the inline band
    expansion of ``corpus_sigs`` — pass the sigs frame too only for
    its schema contract; it is not read when bands are supplied.
    """
    rows = num_perm // bands
    h = content_hash(F.col(text_col))
    survivors = (new.withColumn("__h", h)
                 .join(corpus_hashes.withColumnRenamed("h", "__h"),
                       "__h", "left_anti")
                 .drop("__h"))
    # consumed by BOTH the signature chain and the final anti-join —
    # Catalyst does not dedupe the subtree, so without this persist the
    # exact-stage anti-join runs twice per action (batch-sized frame)
    from pyspark import StorageLevel
    survivors = survivors.persist(StorageLevel.MEMORY_AND_DISK)
    sig_new = minhash_signature(survivors, id_col, text_col,
                                num_perm=num_perm, shingle_n=shingle_n,
                                hash_fn=hash_fn)

    def bandify(sig: DataFrame, doc_out: str) -> DataFrame:
        return sig.select(
            F.col("doc").alias(doc_out), "sig",
            F.explode(F.array(*[
                F.struct(F.lit(b).alias("band"),
                         band_hash_col(F.col("sig"), b, rows, hash_fn)
                         .alias("bh"))
                for b in range(bands)])).alias("e")
        ).select(doc_out, "sig", "e.band", "e.bh")

    a = bandify(sig_new, "ndoc").withColumnRenamed("sig", "sig1")
    if corpus_bands is not None:
        b = corpus_bands.select(F.col("doc").alias("cdoc"),
                                F.col("sig").alias("sig2"), "band", "bh")
    else:
        b = bandify(corpus_sigs, "cdoc").withColumnRenamed("sig", "sig2")
    cand = (a.join(b, ["band", "bh"])
             .groupBy("ndoc", "cdoc")
             .agg(F.first("sig1").alias("sig1"),
                  F.first("sig2").alias("sig2")))
    est = cand.withColumn(
        "est_jaccard",
        F.size(F.filter(F.zip_with("sig1", "sig2", lambda x, y: x == y),
                        lambda v: v)) / F.lit(num_perm))
    dropped = (est.filter(F.col("est_jaccard") >= threshold)
                  .select(F.col("ndoc").alias(id_col)).distinct())
    from fluent_bit_spark.caching import carry
    return carry(survivors.join(dropped, id_col, "left_anti"), survivors)


# ---------------------------------------------------------------------------
# LSH parameter planning (driver-side, pure arithmetic — no Spark)
# ---------------------------------------------------------------------------

def lsh_collision_prob(s: float, b: int, r: int) -> float:
    """P[candidate pair] for a pair with Jaccard similarity ``s`` under
    b bands × r rows banded MinHash: ``1 - (1 - s^r)^b`` (Leskovec,
    Rajaraman & Ullman, *Mining of Massive Datasets* §3.4 — public
    textbook result; upstream has no LSH, extension axis)."""
    if not 0.0 <= s <= 1.0:
        raise ValueError(f"similarity out of [0,1]: {s}")
    return 1.0 - (1.0 - s ** r) ** b


def lsh_plan(threshold: float, num_perm: int = 16,
             fn_weight: float = 1.0, fp_weight: float = 1.0,
             grid: int = 1000) -> dict:
    """Choose (bands, rows) for a target Jaccard ``threshold`` — the
    planning step in front of :func:`minhash_lsh_pairs` /
    :func:`lsh_verified_pairs` / :func:`dedup_vs_corpus`, where the
    WRONG banding silently costs either recall (missed near-dups) or
    a candidate explosion that the verify stage then pays for at
    corpus scale.

    Enumerates every exact factorization b·r = num_perm and scores
    each by the standard S-curve error integrals (MMDS §3.4.3):
    false-negative area ∫_t^1 (1 - P(s)) ds (true dups missed) and
    false-positive area ∫_0^t P(s) ds (non-dups that become
    candidates and ride the pair exchange), trapezoid-integrated on a
    ``grid``-point mesh. ``fn_weight``/``fp_weight`` skew the
    trade-off: a verify-backed pipeline (lsh_verified_pairs) tolerates
    false positives — they cost shuffle, not correctness — so weight
    fp lower there; an unverified drop path must weight fn ≈ fp.

    Returns {bands, rows, fn_area, fp_area, s50, curve} where ``s50``
    is the similarity at 50% collision probability ((1-(1/2)^(1/b))
    ^(1/r), the S-curve midpoint — want it near ``threshold``) and
    ``curve`` is [(s, P)] at decile points for reporting. Driver-side
    pure arithmetic: cost O(divisors · grid), no Spark, call it once
    before launching a 100 TB job."""
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold out of (0,1): {threshold}")
    if num_perm < 1:
        raise ValueError(f"num_perm must be >= 1: {num_perm}")
    best: dict | None = None
    for r in range(1, num_perm + 1):
        if num_perm % r:
            continue
        b = num_perm // r
        fn = fp = 0.0
        step = 1.0 / grid
        prev_s, prev_p = 0.0, lsh_collision_prob(0.0, b, r)
        for i in range(1, grid + 1):
            s = i * step
            p = lsh_collision_prob(s, b, r)
            seg = step * 0.5
            if s <= threshold:
                fp += seg * (prev_p + p)
            elif prev_s >= threshold:
                fn += seg * ((1.0 - prev_p) + (1.0 - p))
            else:  # segment straddles the threshold: split it exactly
                mid_p = lsh_collision_prob(threshold, b, r)
                fp += (threshold - prev_s) * 0.5 * (prev_p + mid_p)
                fn += (s - threshold) * 0.5 * ((1.0 - mid_p) + (1.0 - p))
            prev_s, prev_p = s, p
        err = fn_weight * fn + fp_weight * fp
        if best is None or err < best["_err"]:
            s50 = (1.0 - 0.5 ** (1.0 / b)) ** (1.0 / r)
            best = {"bands": b, "rows": r, "fn_area": round(fn, 6),
                    "fp_area": round(fp, 6), "s50": round(s50, 6),
                    "curve": [(round(x / 10, 1),
                               round(lsh_collision_prob(x / 10, b, r), 6))
                              for x in range(11)],
                    "_err": err}
    assert best is not None
    best.pop("_err")
    return best
