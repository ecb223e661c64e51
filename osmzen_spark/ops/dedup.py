"""Deduplication operators for large-scale training-data pipelines.

All scale-minded: exact dedup is a hash groupBy (map-side combine);
MinHash/LSH turns near-dup detection into an equi-join on band keys
(no cross join ever materializes); SimHash is a single pass of
Column/array math. Everything below is built-in-function Spark —
the only Python is driver-side plan construction.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# large Mersenne prime for universal hashing
_MERSENNE = (1 << 61) - 1


def _free_local_checkpoint(df: DataFrame) -> None:
    """Unpersist the internal RDD behind a localCheckpoint'ed frame.

    `df.rdd.unpersist()` is a no-op here: the Python-facing RDD is a
    derived MapPartitionsRDD, not the persisted InternalRow RDD that
    localCheckpoint pinned in the block manager. The LogicalRDD node of
    the checkpointed frame's plan holds the real one (verified: block
    count drops to zero). Best-effort — a failure just means the block
    lives until the session ends, which is the pre-fix behavior."""
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        pass


def _shingles(text: Column, k: int = 5) -> Column:
    """Word k-gram shingles as an array of hashed longs."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
    return F.transform(
        idx, lambda i: F.xxhash64(F.concat_ws(" ", F.slice(words, i + 1, k)))
    )


def exact_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    hash_expr: Column | None = None,
) -> DataFrame:
    """Keep one row (lowest id) per exact text value.

    The window partitions on (hash, text): the 64-bit hash keeps the
    shuffle HASH-partitioning cheap and well-distributed, while the
    text column in the key makes the dedup exact — two DIFFERENT texts
    that collide on xxhash64 (expected ~n^2/2^65 collisions, i.e.
    certain at the 10^11-doc design point) land in the same shuffle
    partition but separate window groups, so both survive. The row
    already carries the text, so adding it to the key does not widen
    the exchange. `hash_expr` exists so tests can force collisions
    (e.g. F.lit(0)) and prove the text key keeps distinct docs apart."""
    w = Window.partitionBy("__th", text_col).orderBy(F.col(id_col).asc())
    return (
        df.withColumn(
            "__th", hash_expr if hash_expr is not None else F.xxhash64(F.col(text_col))
        )
        .withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__th", "__rn")
    )


def minhash_signature_from(sh: Column, num_hashes: int) -> Column:
    """Signature from a MATERIALIZED shingle-hash array column. The
    i-th hash function is xxhash64 seeded with i (JVM-native; a*x+b
    universal hashing overflows int64 under ANSI arithmetic).

    Callers must pass a real column (withColumn the shingles first):
    inlining the shingle expression here would make Catalyst recompute
    the split/slice/hash chain num_hashes times per row."""

    def hash_fn(i: int):
        # factory closure: pyspark introspects lambda arity, so default
        # args would be miscounted as lambda parameters
        return lambda x: F.xxhash64(F.lit(i), x)

    return F.array(*[F.array_min(F.transform(sh, hash_fn(i))) for i in range(num_hashes)])


def minhash_signature(text: Column, num_hashes: int = 64, shingle_k: int = 5) -> Column:
    return minhash_signature_from(_shingles(text, shingle_k), num_hashes)


def minhash_dedup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_k: int = 5,
) -> DataFrame:
    """Candidate near-duplicate pairs via LSH banding.

    Scale shape: explode each doc into `bands` band-hash keys, self-join
    on the band key (equi-join -> shuffle on int64; AQE splits hot
    buckets), emit distinct (id_a < id_b) pairs with estimated Jaccard
    from full signatures.
    """
    rows_per_band = num_hashes // bands
    # Signature via explode + num_hashes MIN aggregates: one Arrow
    # shingle pass, then everything is whole-stage-codegen JVM work
    # with map-side partial mins — no interpreted higher-order
    # functions anywhere (the previous array_min(transform(...)) chain
    # ran interpreted num_hashes times per row). Values are IDENTICAL
    # to the Column-API minhash_signature: the element hash is the
    # same xxhash64(shingle string), the per-function hash the same
    # xxhash64(seed, element), and min over distinct shingles equals
    # min over the positional (duplicate-keeping) shingle list.
    ex = shingle_explode(df, text_col, id_col, shingle_k).select(
        "id", F.xxhash64("g").alias("__gh")
    )
    mins = [
        F.min(F.xxhash64(F.lit(i), F.col("__gh"))).alias(f"__s{i}")
        for i in range(num_hashes)
    ]
    base = (
        ex.groupBy("id")
        .agg(*mins)
        .select("id", F.array(*[f"__s{i}" for i in range(num_hashes)]).alias("sig"))
    )
    # one band key per contiguous signature slab, built at compile time
    band_keys = F.array(
        *[
            F.xxhash64(F.lit(b), F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band))
            for b in range(bands)
        ]
    )
    banded = base.select("id", "sig", F.explode(band_keys).alias("band_key"))
    a = banded.select(F.col("id").alias("id_a"), F.col("sig").alias("sig_a"), "band_key")
    b = banded.select(F.col("id").alias("id_b"), F.col("sig").alias("sig_b"), "band_key")
    jaccard = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda eq: eq))
        / F.lit(float(num_hashes))
    )
    # a pair matching in k bands appears k times: aggregate instead of
    # distinct-ing over the signature arrays (narrower shuffle)
    return (
        a.join(b, on="band_key")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", jaccard.alias("est_jaccard"))
        .groupBy("id_a", "id_b")
        .agg(F.max("est_jaccard").alias("est_jaccard"))
    )


def simhash_from(sh: Column, bits: int = 64) -> Column:
    """SimHash from a MATERIALIZED shingle-hash array column: per-bit
    majority vote as pure array math (see minhash_signature_from for
    why the caller materializes the shingles)."""

    def bit_vote(i: int):
        return lambda acc, x: acc + F.when(
            F.shiftright(x, i).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_sums = [F.aggregate(sh, F.lit(0), bit_vote(i)) for i in range(bits)]
    out = F.lit(0).cast("long")
    for i, s in enumerate(bit_sums):
        out = out.bitwiseOR(F.when(s > 0, F.shiftleft(F.lit(1).cast("long"), i)).otherwise(F.lit(0).cast("long")))
    return out


def simhash_col(text: Column, bits: int = 64, shingle_k: int = 2) -> Column:
    return simhash_from(_shingles(text, shingle_k), bits)


def with_simhash(df: DataFrame, text_col: str = "text", bits: int = 64, shingle_k: int = 2) -> DataFrame:
    """df + `simhash` column, with the shingle array materialized once.

    Per-row Column path (interpreted HOF bit votes) — composable but
    slow; prefer `simhash_frame` on any hot path."""
    return (
        df.withColumn("__sh", _shingles(F.col(text_col), shingle_k))
        .withColumn("simhash", simhash_from(F.col("__sh"), bits))
        .drop("__sh")
    )


def simhash_frame(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 64,
    shingle_k: int = 2,
) -> DataFrame:
    """(id, simhash) via explode + `bits` SUM aggregates — the scalable
    twin of `with_simhash`: one Arrow shingle pass, then pure codegen
    JVM aggregation with map-side partial sums, instead of `bits`
    interpreted F.aggregate passes per row. Fingerprints are IDENTICAL
    to simhash_from(_shingles(...)): the per-position (duplicate-
    keeping) bit vote equals the multiplicity-weighted vote over
    distinct shingles, which is what sum(c * (+/-1)) computes. Docs
    with NULL text produce no shingles and are absent from the output
    (the Column path would carry a NULL simhash)."""
    ex = shingle_explode(df, text_col, id_col, shingle_k).select(
        "id", "c", F.xxhash64("g").alias("__gh")
    )
    votes = [
        F.sum(
            F.when(
                F.shiftright("__gh", i).bitwiseAND(F.lit(1)) == 1, F.col("c")
            ).otherwise(-F.col("c"))
        ).alias(f"__b{i}")
        for i in range(bits)
    ]
    agg = ex.groupBy("id").agg(*votes)
    out = F.lit(0).cast("long")
    for i in range(bits):
        out = out.bitwiseOR(
            F.when(
                F.col(f"__b{i}") > 0, F.shiftleft(F.lit(1).cast("long"), i)
            ).otherwise(F.lit(0).cast("long"))
        )
    return agg.select(F.col("id").alias(id_col), out.alias("simhash"))


def shingle_explode(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id", k: int = 3
) -> DataFrame:
    """Distinct word-k-gram shingles as exploded STRING rows
    (id, n, c, g) — n = the doc's distinct-shingle count, c = this
    shingle's positional multiplicity — produced in ONE Arrow batch
    pass.

    Why not the Column-expression `_shingles`: Catalyst inlines the
    split→transform→slice→concat→hash chain into every consumer
    (explode adds an implicit size>0 filter, joins duplicate the
    subtree), and higher-order functions run interpreted — measured
    4x recomputation and ~1 ms/row at sf0.1. Native string ops over
    Arrow batches do the same work in microseconds, and callers hash
    the one exploded string JVM-side (codegen) when they need a
    narrow shuffle key. Semantics identical to `_shingles`: lower,
    trim, split on whitespace runs, one short shingle when the text
    has fewer than k words, distinct per document, emitted in sorted
    order per doc.

    The inner loop is index arithmetic, not per-document Python: the
    batch's words flatten into ONE object array, every shingle's k
    word positions come from vectorized offset math, concatenation is
    k-1 whole-array adds, and per-doc distinct + counts are a hashed
    drop_duplicates + bincount (parity-tested against the scalar
    definition in tests/test_ops.py)."""
    import numpy as np
    import pandas as pd

    empty = pd.DataFrame(
        {"id": pd.Series(dtype="int64"), "n": pd.Series(dtype="int32"),
         "c": pd.Series(dtype="int32"), "g": pd.Series(dtype="object")}
    )

    def gen(batches):
        for pdf in batches:
            s = pdf[text_col]
            mask = s.notna().to_numpy()  # explode(NULL) drops the row
            ids = pdf[id_col].to_numpy()[mask]
            ndocs = len(ids)
            if ndocs == 0:
                yield empty
                continue
            words = s[mask].astype(str).str.lower().str.split()
            lens = words.str.len().to_numpy(dtype=np.int64)
            total_words = int(lens.sum())
            from itertools import chain

            flat = np.fromiter(
                chain.from_iterable(words), dtype=object, count=total_words
            )
            offsets = np.concatenate(([0], np.cumsum(lens)))
            m = np.maximum(lens - k, 0) + 1  # shingles per doc (pre-distinct)
            tot = int(m.sum())
            doc_idx = np.repeat(np.arange(ndocs), m)
            within = np.arange(tot) - np.repeat(np.cumsum(m) - m, m)
            start = offsets[:-1][doc_idx] + within
            sh = np.empty(tot, dtype=object)
            ne = lens[doc_idx] > 0  # zero-word docs shingle to ""
            sh[~ne] = ""
            st = start[ne]
            en = offsets[1:][doc_idx][ne]
            cur = flat[st]  # fancy indexing -> fresh array, safe to mutate
            for j in range(1, k):
                v = st + j < en  # short docs: shingle = all words
                if not v.any():
                    break
                cur[v] = cur[v] + " "
                cur[v] = cur[v] + flat[st[v] + j]
            sh[ne] = cur
            # distinct + multiplicity in one lexsort: runs of equal
            # (doc, gram) collapse to one row with their run length
            order = np.lexsort((sh, doc_idx))
            si, sg = doc_idx[order], sh[order]
            new = np.empty(len(si), dtype=bool)
            new[0] = True
            new[1:] = (si[1:] != si[:-1]) | (sg[1:] != sg[:-1])
            starts = np.flatnonzero(new)
            c = np.diff(np.append(starts, len(si)))
            i, g = si[starts], sg[starts]
            counts = np.bincount(i, minlength=ndocs)
            yield pd.DataFrame(
                {
                    "id": ids[i],
                    "n": counts[i].astype(np.int32),
                    "c": c.astype(np.int32),
                    "g": g,
                }
            )

    src = df.select(F.col(id_col).alias(id_col), text_col)
    # Fan out an under-partitioned input ahead of the Python pass: a
    # sandbox-scale documents parquet bin-packs into ONE scan partition
    # (maxPartitionBytes), serializing the Arrow shingling onto a
    # single core (a no-op at real scale where the table arrives in
    # thousands of splits). Applied AFTER column pruning so the
    # exchange carries only (id, text); every consumer aggregates
    # order-independently, so the round-robin redistribution cannot
    # change results.
    spark = src.sparkSession
    target = spark.sparkContext.defaultParallelism
    if src.rdd.getNumPartitions() < target:
        src = src.repartition(target)
    return src.mapInPandas(gen, "id long, n int, c int, g string")


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    min_jaccard: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs, web-scale shape.

    Three devices, all exactness-preserving (AllPairs / PPJoin,
    Bayardo et al. WWW'07; Xiao et al. WWW'08):

    1. shingling is one Arrow pass (`shingle_explode`), not N copies
       of an interpreted higher-order expression chain;
    2. prefix filtering: candidates join only on each document's
       |s| - ceil(t*|s|) + 1 RAREST shingles under a global
       (doc-frequency, hash) total order. Any pair with J >= t
       provably shares a prefix shingle (the globally smallest common
       shingle sits within both prefixes), while hot shingles — df in
       the millions at web scale, the quadratic blowup of the naive
       explode-join — never enter the join;
    3. length filter: J >= t implies min(|A|,|B|) >= t*max(|A|,|B|),
       pruned before the exact intersect.

    Survivors get the exact Jaccard via array_intersect over the full
    shingle-hash arrays (64-bit xxhash64; Jaccard is hash-invariant,
    which is also why the DuckDB oracle can re-derive identical values
    from the raw shingle strings).

    The exploded shingle frame is stage-cut (localCheckpoint; the
    Iceberg stage checkpoint on a cluster): three consumers read it —
    the doc-frequency aggregate, the prefix join input, and the
    full-signature collect — and without the cut each consumer
    re-executes the Arrow shingling pass over the whole corpus
    (measured 3x the Python-boundary work; the checkpointed frame is
    ~8 bytes/shingle, the same order as the corpus text itself)."""
    ex = shingle_explode(df, text_col, id_col, k).select(
        "id", "n", F.xxhash64("g").alias("g")
    ).localCheckpoint(eager=True)
    t = float(min_jaccard)
    # global shingle rarity = the prefix order (map-side combine agg)
    dfreq = ex.groupBy("g").agg(F.count("*").alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("g").asc())
    prefix_len = F.col("n") - F.ceil(F.lit(t) * F.col("n")).cast("int") + 1
    prefix = (
        ex.join(dfreq, "g")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "n", "g", "rn")
    )
    a = prefix.select(
        F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("rn").alias("rn_a"), "g"
    )
    b = prefix.select(
        F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("rn").alias("rn_b"), "g"
    )
    # Positional filter (the "P" of PPJoin, Xiao et al. WWW'08 §4):
    # J >= t implies overlap o >= t/(1+t) * (n_a + n_b), and because
    # both docs' shingles are ranked in the SAME global (df, hash)
    # order, every common shingle ranks at or after this matched one —
    # so o <= 1 + min(n_a - rn_a, n_b - rn_b). A qualifying pair always
    # passes at its globally-smallest common shingle (which the prefix
    # filter guarantees is in both prefixes), so completeness is
    # preserved; non-qualifying hot-prefix matches are dropped BEFORE
    # the distinct + exact-verify joins. Measured at sf0.1 (k=3,
    # t=0.5): distinct candidates 310k -> 125k.
    # The float t/(1+t) rounds DOWN (0.5 -> 0.33333...33 < 1/3), so
    # rounding can only admit extra candidates, never drop real ones.
    alpha = F.lit(t / (1.0 + t)) * (F.col("n_a") + F.col("n_b"))
    cand = (
        a.join(b, on="g")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(F.least("n_a", "n_b") >= t * F.greatest("n_a", "n_b"))
        .filter(
            (F.lit(1) + F.least(F.col("n_a") - F.col("rn_a"), F.col("n_b") - F.col("rn_b")))
            >= alpha
        )
        .select("id_a", "id_b")
        .distinct()
    )
    full = ex.groupBy("id", "n").agg(F.collect_list("g").alias("sh"))
    fa = full.select(F.col("id").alias("id_a"), F.col("n").alias("n_a"), F.col("sh").alias("sh_a"))
    fb = full.select(F.col("id").alias("id_b"), F.col("n").alias("n_b"), F.col("sh").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / (F.col("n_a") + F.col("n_b") - inter)
    return (
        cand.join(fa, on="id_a")
        .join(fb, on="id_b")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def dedup_components(
    pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b", max_iter: int = 25
) -> DataFrame:
    """Connected components over near-dup pairs -> (doc_id, rep_id),
    rep_id = the component's minimum id (the canonical survivor a
    keep-lowest-id dedup retains). Near-dup PAIR generation (MinHash /
    SimHash / n-gram / embedding LSH) leaves transitively-linked
    groups split across pairs; this is the grouping step a real dedup
    pipeline runs before dropping non-representatives.

    Min-label propagation WITH pointer doubling: every node starts
    labeled with itself; each iteration (a) takes the min label over
    neighbors (one equi-join + one min-aggregate, both map-side
    combinable), then (b) pointer-jumps — replaces each label with the
    label OF that label (labels self-join; a label is always a node id
    present in the frame, so the lookup never misses). Step (b) doubles
    the effective propagation distance per round, so a path-shaped
    component of length L converges in O(log L) rounds instead of the
    L rounds plain propagation needs — the same round complexity as the
    large-star/small-star edge rewrite (Kiveris et al., "Connected
    Components in MapReduce and Beyond"), but with the edge set static
    (checkpointed ONCE) and only the small (node, label) frame
    re-materialized per round. The driver loop carries only a
    changed-row COUNT per iteration — no data is collected — each
    labels frame is stage-cut so the plan stays O(1) deep, and the
    previous round's checkpointed RDD is unpersisted as soon as the
    count lands (bounded block-manager footprint). Raises if not
    converged within max_iter rather than returning wrong groups."""
    # materialize the pair frame ONCE before mirroring: the two union
    # branches would otherwise re-execute the whole upstream pair
    # generator (banded join + exact verify) twice. The small (u, v)
    # checkpoint is freed as soon as the mirrored edge set exists.
    p = pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")).localCheckpoint(
        eager=True
    )
    edges = (
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct()
        .localCheckpoint(eager=True)  # scanned every iteration
    )
    _free_local_checkpoint(p)
    labels = edges.select("u").distinct().select(
        F.col("u").alias("node"), F.col("u").alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        neigh = (
            edges.join(labels, edges["v"] == labels["node"])
            .groupBy("u")
            .agg(F.min("label").alias("nlabel"))
        )
        stepped = labels.join(neigh, labels["node"] == neigh["u"], "left").select(
            labels["node"].alias("node"),
            F.least(labels["label"], F.coalesce("nlabel", labels["label"])).alias("label"),
            labels["label"].alias("__old"),
        )
        # pointer jump: label <- label(label). Min-propagation only ever
        # lowers labels, so label(label) <= label and least() is exact.
        lut = stepped.select(
            F.col("node").alias("__ln"), F.col("label").alias("__ll")
        )
        # __old rides along so convergence is a flag-count over this
        # (already materialized) checkpoint — no labels-vs-labels
        # shuffle join per round just to count changes.
        new_labels = (
            stepped.join(lut, stepped["label"] == lut["__ln"], "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("__ll", F.col("label"))).alias("label"),
                F.col("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = new_labels.filter(F.col("label") != F.col("__old")).count()
        _free_local_checkpoint(labels)  # previous round no longer referenced
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(f"dedup_components did not converge in {max_iter} iterations")
    _free_local_checkpoint(edges)
    return labels.select(F.col("node").alias("doc_id"), F.col("label").alias("rep_id"))
