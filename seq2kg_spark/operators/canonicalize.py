"""Mention canonicalization + graph materialization (north-star stage).

triples(url, subj, pred, obj) → canonical ``nodes`` / ``edges`` tables:

1. **Mention extraction**: distinct surface strings from subj/obj.
2. **Blocking**: candidate same-entity pairs via char-shingle MinHash-LSH
   (never a full cross product) + cheap exact rules (case/possessive
   normalization collisions).
3. **Similarity edges**: Jaccard over char 3-grams ≥ threshold.
4. **Connected components**: alternating large-star / small-star iterations
   (Kiveris et al., "Connected Components in MapReduce and Beyond") on an
   edge DataFrame — O(log n) rounds, each a groupBy-shuffle, with
   ``localCheckpoint`` per round to cut lineage (at 10^12 rows an
   unbounded lineage chain is an OOM, not a nicety).
5. **Canonical naming**: each component's most frequent (then longest,
   then lexicographically smallest) surface form.
6. **Materialize**: ``nodes(canon_id, canonical, members, n_mentions)``,
   ``edges(src, pred, dst, weight)`` — the Iceberg-bound graph tables
   (reference analog: the documented Neo4j LOAD CSV block,
   redcoat_parser/build_triples.py:206-214).

The reference canonicalizes only via per-doc coref (A5/A6); corpus-level
canonicalization is our scale addition (SURVEY.md §7 step 6).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F

from seq2kg_spark.operators.dedup import lsh_bucket_pairs


# --------------------------------------------------------------------------
# Cache lifetime management.
#
# Everything this module persists (the norm shingle-set .persist() in
# similarity_edges, the input and per-round localCheckpoints in
# connected_components, the naming localCheckpoint in canonicalize) is
# released as soon as its last consumer has MATERIALIZED
# — mid-computation where possible, otherwise through a release handle
# attached to the returned DataFrame(s).  Without this, a
# long-lived session calling canonicalize / incremental_assign per batch
# (the streaming use case) accumulates cached blocks per invocation and
# leans on LRU eviction under memory pressure.
#
# localCheckpoint needs special handling: its storage lives on an internal
# JVM RDD that DataFrame.unpersist() does NOT reach, so we snapshot
# sc.getPersistentRDDs() ids around the checkpoint and release by id.  A
# released localCheckpoint CANNOT be recomputed (lineage is truncated), so
# a release handle must only fire after the DataFrame's consumers have
# materialized — which is why the handles are explicit, not a finalizer.
# --------------------------------------------------------------------------


def _release_rdd_ids(spark, ids: list[int]):
    """Unpersist persistent RDDs by id (idempotent; missing ids skipped)."""
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for rid in ids:
        rdd = jmap.get(rid)
        if rdd is not None:
            rdd.unpersist()


def _tracked_local_checkpoint(df: DataFrame):
    """Eager localCheckpoint + a zero-arg release handle for its blocks.

    The id diff is safe on a single-threaded driver (the only execution
    model this package uses); the handle unpersists exactly the RDDs the
    checkpoint registered."""
    spark = df.sparkSession
    jsc = spark.sparkContext._jsc
    before = set(jsc.getPersistentRDDs().keySet().toArray())
    out = df.localCheckpoint(eager=True)
    new_ids = [i for i in jsc.getPersistentRDDs().keySet().toArray()
               if i not in before]
    return out, (lambda: _release_rdd_ids(spark, new_ids))


def release_caches(*dfs: DataFrame) -> None:
    """Release the caches backing DataFrames returned by this module.

    Call AFTER the DataFrame(s) have been materialized (written, collected
    or counted for the last time): released localCheckpoints cannot be
    recomputed, so a released DataFrame must not be re-evaluated.
    Idempotent."""
    for df in dfs:
        caches = getattr(df, "_canon_caches", [])
        while caches:
            # pop in place: outputs sharing one handle list (canonicalize's
            # nodes/edges) release exactly once between them
            caches.pop()()


# Spelled-out ASCII whitespace class == Java \s exactly.  RE2 (the DuckDB
# twin engine) excludes \x0B from \s, so a bare \s+ here would diverge
# cross-engine on vertical tabs — same seam as repetition.WS_CLASS.
WS_CLASS = "[ \\t\\r\\n\\x0B\\f]"


def normalize_mention(col):
    """Cheap normal form: lower, strip possessives/punct edges, squeeze."""
    c = F.lower(col)
    c = F.regexp_replace(c, "'s$", "")
    c = F.regexp_replace(c, "^[^a-z0-9]+|[^a-z0-9]+$", "")
    return F.regexp_replace(c, WS_CLASS + "+", " ")


def mentions_from_triples(triples: DataFrame) -> DataFrame:
    """Distinct mention surfaces with frequencies: (mention, norm, freq).

    One scan: subj/obj explode to two mention rows per triple.  (The
    earlier unionAll of two selects read the triples table twice — at 12M
    rows the duplicate scan was measurable, at 100 TB it doubles the
    stage's I/O.)"""
    surfaces = triples.select(
        F.explode(F.array("subj", "obj")).alias("mention"))
    return (
        surfaces.groupBy("mention")
        .agg(F.count("*").alias("freq"))
        .withColumn("norm", normalize_mention(F.col("mention")))
        .where(F.col("norm") != "")
    )


def _char_shingles(col, k: int = 3):
    n = F.length(col)
    idx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    return F.array_distinct(
        F.transform(idx, lambda i: F.substring(col, i, k))
    )


# Hot-bucket cap on (band, sig) candidate pairing; the DuckDB oracle twin
# interpolates this same constant (pattern: dedup.MAX_BUCKET_DEFAULT).
#
# 1k, not 10k: a bucket at the cap costs O(cap²) candidate rows, and on a
# high-cardinality mention table MANY buckets sit at the cap (measured on
# the 500k-page neural path: 4.07M distinct norms → with cap=10k the guard
# still admits ~6.9e8 candidates per 500k-norm sample, max bucket 362k
# wide; cap=1k admits 3.9e6).  True same-entity mention pairs live in
# narrow buckets — a 100k-wide char-shingle bucket is a stop-pattern, not
# an entity cluster.
SIM_MAX_BUCKET_DEFAULT = 1_000

# Band shape default: r=4 rows × 32 bands, NOT the historical r=1 × 6.
# Measured (BASELINE.md round 7, zipf-entity recall study): on the
# zipf-entity corpus (shared real-word vocab, power-law mention
# frequencies — the realistic web-entity shape) r=1 collides every pair
# sharing ONE hot shingle, the
# cap then drops the flooded buckets wholesale, and same-entity recall
# collapses to 0.47 at 300k norms; r=4/b=32 holds recall ≥0.99 on BOTH
# corpus shapes with 2.3× fewer candidates and half the wall (a bucket
# collision now needs 4 simultaneous min-hash matches, P = jaccard⁴, so
# hot-shingle floods never form and the cap only trims genuine stop
# patterns).  The md5-seam oracle query pins (r=1, b=6) explicitly — the
# historical signature formula the DuckDB twin interpolates.
SIM_BAND_ROWS_DEFAULT = 4
SIM_N_BANDS_DEFAULT = 32
# Jaccard over char 3-grams a verified same-entity pair must reach.
SIM_THRESHOLD_DEFAULT = 0.55


def similarity_edges(
    mentions: DataFrame,
    threshold: float = SIM_THRESHOLD_DEFAULT,
    n_bands: int = SIM_N_BANDS_DEFAULT,
    max_bucket: int = SIM_MAX_BUCKET_DEFAULT,
    hash_fn: str = "xxhash64",
    new_flag_col: str | None = None,
    band_rows: int = SIM_BAND_ROWS_DEFAULT,
    stats: dict | None = None,
) -> DataFrame:
    """Same-entity candidate edges between *normalized* mention strings.

    Exact-norm collisions are free (groupBy); near-miss pairs come from
    banded MinHash over char 3-shingles, verified by Jaccard ≥ threshold.
    Returns (a, b) string pairs with a < b.

    The internal ``persist()`` of the norm shingle sets (read by the
    signatures and both verify sides) backs the returned plan lazily, so
    it cannot be unpersisted here.  Its release handle goes onto the
    returned DataFrame's ``_canon_caches`` for :func:`release_caches`
    after materialization (canonicalize / incremental_assign release it
    once connected_components has checkpointed the edge set).

    ``band_rows`` (r): MinHash rows per band.  A (band, sig) bucket
    collides with probability jaccard^r, so r=1 degenerates on
    shared-vocab corpora — every pair sharing ONE hot shingle collides
    somewhere (same failure the dedup module measured at 181.5 M
    candidates on 50k pages) and the hot-bucket cap then DROPS true pairs
    wholesale.  r>1 suppresses low-similarity collisions before the cap
    ever fires; the kg_similarity_edges oracle pins r=1 explicitly to
    stay hash-exact (BASELINE.md round 7 holds the recall/cost evidence
    per (cap, r) on both corpus shapes).

    ``max_bucket`` is the skew guard on LSH candidate pairing: a (band,
    sig) bucket of n members emits n² candidate rows, so one hot signature
    (short mentions share few shingles — "inc", "llc", digit strings) can
    go quadratic at web scale.  Buckets over the cap are dropped before
    pairing — their members simply contribute no candidates from that
    band (they usually collide in a calmer band too; the exact-norm
    grouping and the CC transitive closure still connect identical and
    chained mentions).  The cap bounds the in-bucket pair expansion at
    O(max_bucket²) rows per (band, sig) bucket, never O(|mentions|²).
    """
    if new_flag_col is None:
        norms = mentions.select("norm").distinct()
    else:
        # incremental mode: only pairs touching a NEW norm are candidates —
        # old-old similarity was decided by the previous run and arrives as
        # component star edges (incremental_assign)
        norms = (
            mentions.select("norm", F.col(new_flag_col).alias("_new"))
            .groupBy("norm").agg(F.max("_new").alias("_new"))
        )
    # Mentions are SHORT strings (a few hundred chars max), so the full
    # shingle set of a norm fits in one array cell — never materialize
    # (norm × shingle) or (norm × shingle × band) rows.  The former
    # explode-based formulation shuffled the 116M-row shingle table three
    # times at 500k-page/4M-norm scale (~7 GiB per exchange, >70 GiB of
    # shuffle total, disk-exhausting a 250 GB node); this one's only
    # shuffled rows are the (norm, band, sig) triples and the candidate
    # pairs themselves (same shape as dedup.minhash_lsh_pairs' set-join
    # verification).
    flag = ["_new"] if new_flag_col else []
    # the row count is observed on the job that first fills the persist
    # (the CC input checkpoint), not by an action of its own
    n_norms = Observation()
    norm_sets = norms.select(
        "norm", *flag,
        F.array_sort(_char_shingles(F.col("norm"))).alias("shingles"),
    ).observe(n_norms, F.count(F.lit(1)).alias("n")).persist()
    # Banded min-signatures without exploding shingles: per (norm, band),
    # sig = min over the row's shingle array of hash(band, j, shingle) — a
    # narrow transform + array_min.  xxhash64 (8-byte ints, JVM-side) is
    # the scale path; md5 hex strings are cross-engine-identical for the
    # DuckDB oracle twin (string min is lexicographic in both engines).
    # The bucket shape is dedup's (lsh_bucket_pairs); in incremental mode
    # the member carries the new flag so old-old pairs can be dropped (the
    # filter is pushed below the pairs' dropDuplicates).  Norms are
    # distinct, so the struct order is the norm order.
    cand = lsh_bucket_pairs(
        norm_sets, F.struct("norm", *flag) if new_flag_col else F.col("norm"),
        F.col("shingles"), n_bands=n_bands, band_rows=band_rows,
        hash_fn=hash_fn, max_bucket=max_bucket,
    )
    if new_flag_col:
        cand = cand.where(F.col("a._new") | F.col("b._new")).select(
            F.col("a.norm").alias("a"), F.col("b.norm").alias("b"))
    extra_releases = []
    if stats is not None:
        # telemetry for cap/band tuning studies — costs one extra action
        # (and a persist so the verify join below reuses it), so production
        # callers leave stats=None
        cand = cand.persist()
        stats["n_candidates"] = cand.count()
        extra_releases.append(cand.unpersist)
    # Jaccard verification on per-norm sets: |cand| rows with a vectorized
    # JVM array_intersect each — not a candidates×shingles equi-join.
    a_sets = norm_sets.select(F.col("norm").alias("a"),
                              F.col("shingles").alias("sh_a"),
                              F.size("shingles").alias("n_a"))
    b_sets = norm_sets.select(F.col("norm").alias("b"),
                              F.col("shingles").alias("sh_b"),
                              F.size("shingles").alias("n_b"))
    out = (
        cand.join(a_sets, "a")
        .join(b_sets, "b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .where(
            F.col("n_inter")
            / (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
            >= threshold
        )
        .select("a", "b")
    )
    out._canon_caches = [norm_sets.unpersist, *extra_releases]
    out._n_norms = n_norms
    return out


def connected_components(
    edges: DataFrame,
    max_iter: int = 20,
    stats: dict | None = None,
) -> DataFrame:
    """Alternating large-star / small-star connected components.

    ``edges``: (a, b) — any orientation, any dtype with total order.
    Returns (node, component) with component = min member of the component.

    Each round is two groupBy shuffles over the edge set plus the small
    star's dedup; convergence in O(log n) rounds.  ``localCheckpoint``
    truncates lineage so round k+1's plan doesn't embed rounds 1..k
    (mandatory at scale), and the deduplicated INPUT is checkpointed
    before the loop: round 1 reads it four times (each star reads its
    input twice, the small star reads the large star's output twice), so
    a lazy input — similarity_edges' LSH join and verify — would otherwise
    be planned and run again per reference.  The convergence key (edge
    count, order-insensitive hash) is observed on the job that writes
    each round's checkpoint, not computed by a separate action.

    Cache lifetime: the input checkpoint and round k's checkpoint blocks
    are released as soon as the next round's checkpoint has materialized
    (previously every round's edge snapshot stayed resident for the whole
    loop).  The FINAL round's blocks back the returned mapping lazily, so
    their release handle goes onto the result's ``_canon_caches``
    (:func:`release_caches` after materialization).
    """
    # undirected, deduped, self-loops dropped
    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .where(F.col("u") != F.col("v"))
        .select(
            F.least("u", "v").alias("u"), F.greatest("u", "v").alias("v")
        )
        .dropDuplicates(["u", "v"])
    )

    def star(df: DataFrame, large: bool) -> DataFrame:
        # neighborhoods of each node (both directions)
        nbrs = df.select(F.col("u").alias("x"), F.col("v").alias("y")).unionAll(
            df.select(F.col("v").alias("x"), F.col("u").alias("y"))
        )
        grouped = nbrs.groupBy("x").agg(F.collect_set("y").alias("ys"))
        if large:
            # large-star(x): m = min(N(x) ∪ {x}); link every LARGER
            # neighbor to m
            pairs = (
                grouped.withColumn(
                    "m", F.array_min(F.array_union("ys", F.array("x")))
                )
                .select("x", "m", F.explode("ys").alias("y"))
                .where(F.col("y") > F.col("x"))
            )
        else:
            # small-star(x): S = smaller neighbors; m = min(S ∪ {x});
            # link every node of S ∪ {x} (except m itself) to m
            pairs = (
                grouped.withColumn(
                    "ys_small",
                    F.filter("ys", lambda y: y < F.col("x")),
                )
                .where(F.size("ys_small") > 0)
                .withColumn("m", F.array_min("ys_small"))
                .select(
                    "m",
                    F.explode(
                        F.array_union("ys_small", F.array("x"))
                    ).alias("y"),
                )
            )
        out = pairs.select(
            F.least(F.col("y"), F.col("m")).alias("u"),
            F.greatest(F.col("y"), F.col("m")).alias("v"),
        ).where(F.col("u") != F.col("v"))
        # the large star's duplicates need no exchange of their own: the
        # small star reads its input as collect_set neighbour sets
        return out if large else out.dropDuplicates(["u", "v"])

    e, prev_release = _tracked_local_checkpoint(e)
    prev_hash = None
    converged = False
    for i in range(max_iter):
        e = star(star(e, large=True), large=False)
        obs = Observation()
        e, rel = _tracked_local_checkpoint(e.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            # bit_xor: order-insensitive, cannot overflow (ANSI mode)
            F.expr("bit_xor(xxhash64(u, v))").alias("h"),
        ))
        # the new checkpoint is materialized and lineage-cut, so the
        # previous snapshot (the input, from round 1) has no consumer left
        prev_release()
        prev_release = rel
        h = obs.get
        cur = (h["n"], h["h"])
        if stats is not None:
            stats["cc_rounds"] = i + 1
            stats["cc_edges"] = h["n"]
        if cur == prev_hash:
            converged = True
            break
        prev_hash = cur
    if not converged:
        prev_release()
        # A non-fixpoint edge set is NOT a star forest; min(component) would
        # silently return a wrong mapping. Fail loudly instead.
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} "
            "large/small-star rounds; raise max_iter"
        )

    comp = e.select(F.col("v").alias("node"), F.col("u").alias("component"))
    roots = e.select(F.col("u").alias("node")).distinct().withColumn(
        "component", F.col("node")
    )
    out = comp.unionByName(roots).groupBy("node").agg(
        F.min("component").alias("component")
    )
    out._canon_caches = [prev_release]
    return out


def _assign(norms: DataFrame, sim: DataFrame, extra: DataFrame | None,
            stats: dict | None) -> DataFrame:
    """``norms`` (any frame with a ``norm`` column) plus ``component``: CC
    over ``sim`` (∪ ``extra`` edges); every norm gets a component,
    singletons map to themselves.  The input's columns are kept, so
    mentions meet their components in this one join.

    CC checkpoints its input before the first round, so the similarity
    persist is released here; the final CC snapshot backs the result
    lazily and rides on its ``_canon_caches``."""
    comp = connected_components(
        sim if extra is None else sim.unionByName(extra), stats=stats)
    release_caches(sim)
    out = (
        norms.join(comp, F.col("norm") == F.col("node"), "left")
        .withColumn("component", F.coalesce("component", F.col("norm")))
        .drop("node")
    )
    out._canon_caches = comp._canon_caches
    return out


def canonicalize(
    triples: DataFrame,
    threshold: float = SIM_THRESHOLD_DEFAULT,
    stats: dict | None = None,
) -> tuple[DataFrame, DataFrame]:
    """triples → (nodes, edges) canonical graph tables.

    ``stats`` (optional dict) is filled with convergence telemetry:
    ``cc_rounds`` / ``cc_edges`` from the large/small-star loop and
    ``distinct_mentions`` — the scale drivers a cluster operator watches.
    The LSH shape is the ``SIM_*`` default (similarity_edges).

    Cache lifetime: the similarity-edge persist is released as soon as
    CC returns (its input checkpoint is the last consumer); the mentions
    cache and every CC snapshot are released BEFORE this returns (the
    eager naming checkpoint is the last consumer of all of them).  That
    one checkpoint backs the returned ``nodes`` and ``edges`` lazily;
    both outputs carry its release handle — call :func:`release_caches`
    on either output after writing both.
    """
    mentions = mentions_from_triples(triples).cache()
    sim = similarity_edges(mentions, threshold=threshold)
    assigned = _assign(mentions, sim, None, stats)
    if stats is not None:
        # one row per distinct norm, counted as CC's input checkpoint
        # filled the similarity persist.  When no candidate pair survives,
        # AQE drops the observed scan from the executed plan and the
        # observation completes with an empty row (which Observation.get
        # cannot convert, hence the JVM row); only then is the count a job
        observed = sim._n_norms._jo.getRow()
        stats["distinct_mentions"] = (
            observed.getLong(0) if observed.size() else
            mentions.select("norm").distinct().count())
    # canonical surface: most frequent, then longest, then lexicographic —
    # mentions are unique, so the order is total and its first row exact
    w = Window.partitionBy("component").orderBy(
        F.desc("freq"), F.desc(F.length("mention")), F.asc("mention")
    )
    # One named row per mention surface.  localCheckpoint (same lineage-cut
    # budget as the CC rounds) because the nodes write and both edge-side
    # maps read it; without the cut each write action re-runs the
    # mentions→components join and the window (measured: the 500k-page
    # canonicalize stage spent most of its 179 s recomputing this naming
    # chain per action).  Its concrete (small) size also lets AQE broadcast
    # the maps into the big triples join instead of shuffling 2×|triples|.
    named, release = _tracked_local_checkpoint(assigned.select(
        "mention", "freq", "component",
        F.xxhash64("component").alias("canon_id"),
        F.first("mention").over(w).alias("canonical"),
    ))
    # named is materialized and lineage-cut: the mentions cache and the
    # final CC snapshot have no remaining consumers
    mentions.unpersist()
    release_caches(assigned)
    nodes = (
        named.groupBy("component", "canon_id", "canonical")
        .agg(
            F.array_sort(F.collect_set("mention")).alias("members"),
            F.sum("freq").cast("long").alias("n_mentions"),
        )
        .select("canon_id", "canonical", "members", "n_mentions")
    )
    s_map = named.select(
        F.col("mention").alias("subj"),
        F.col("canon_id").alias("src"),
        F.col("canonical").alias("src_name"),
    )
    o_map = named.select(
        F.col("mention").alias("obj"),
        F.col("canon_id").alias("dst"),
        F.col("canonical").alias("dst_name"),
    )
    edges = (
        triples.join(s_map, "subj")
        .join(o_map, "obj")
        .groupBy("src", "src_name", F.col("pred"), "dst", "dst_name")
        .agg(F.count("*").cast("long").alias("weight"))
    )
    # one shared handle list: releasing via EITHER output releases the
    # checkpoint, and release_caches clears the list so the second call
    # is a no-op
    nodes._canon_caches = edges._canon_caches = [release]
    return nodes, edges


def incremental_assign(
    old_assign: DataFrame,
    new_mentions: DataFrame,
    stats: dict | None = None,
) -> DataFrame:
    """Incremental component assignment for an append-only mention stream.

    ``old_assign`` is a previous run's (norm, component) table (component
    = min norm of the component); ``new_mentions`` any DataFrame with a
    ``norm`` column (e.g. :func:`mentions_from_triples` of the new day's
    triples).  Returns the merged (norm, component) assignment.

    Why this is cheap: similarity is pairwise and components are the
    transitive closure, so ``closure(all edges) == closure(old-component
    STAR edges ∪ edges touching a new norm)`` — the old stars span
    exactly the old components (which ARE the closure of the old-old
    edges).  Old norms are re-signatured (narrow, linear CPU) but
    **old-old pairs are never re-candidated or re-verified** — the
    O(N_old²-shaped) part of the work is skipped; only new-new and
    new-old pairs run the Jaccard verify.

    Semantics note: equality with a from-scratch recompute is exact as
    long as the hot-bucket cap decisions don't change between runs (a
    bucket crossing ``SIM_MAX_BUCKET_DEFAULT`` only because of new norms
    drops pairs a full recompute would also drop, but cannot retract an
    old merge).  In general the result is the union-closure of per-batch
    decisions — the desirable monotone semantics for an append-only
    pipeline: growth never un-merges an entity.

    Cache lifetime (the repeated-invocation path — this runs per batch in
    a long-lived session): the similarity persist and all intermediate CC
    snapshots are released before this returns; the final CC snapshot backs
    the returned mapping lazily, so it carries the release handle — call
    :func:`release_caches` on the result after materializing it.
    """
    old_norms = (
        old_assign.select("norm").distinct()
        .withColumn("is_new", F.lit(False))
    )
    new_only = (
        new_mentions.select("norm").distinct()
        .join(old_norms.select("norm"), "norm", "left_anti")
        .withColumn("is_new", F.lit(True))
    )
    all_norms = old_norms.unionByName(new_only)
    if stats is not None:
        stats["n_new_norms"] = new_only.count()
    stars = (
        old_assign.where(F.col("norm") != F.col("component"))
        .select(F.col("component").alias("a"), F.col("norm").alias("b"))
    )
    return _assign(
        all_norms.select("norm"),
        similarity_edges(all_norms, new_flag_col="is_new"), stars, stats)
