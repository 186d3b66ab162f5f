"""Deduplication operators for large-scale corpus pipelines.

Not present in the reference (its only dedup is the crawler's visited-set,
src/ETL/website_crawler.py:22,31-33 — SURVEY U1); these are the standard
web-scale family, built Spark-first:

  exact        — content-hash groupBy (one shuffle, map-side combined)
  minhash      — k independent permutations approximated by seeded md5;
                 signatures via groupBy(min), LSH banding via band-key
                 equi-join (bucket join replaces the O(n^2) pair scan)
  simhash      — bitwise majority vote over hashed terms, one groupBy
  ngram jaccard— exact token/shingle Jaccard for candidate pairs only

Hash function is md5-hex-prefix -> int64, chosen because Spark and DuckDB
produce identical md5 hex, making every operator oracle-checkable in SQL.
At 100 TB each of these is shuffle-bound on (term|band|hash) keys — all
Catalyst hash aggregations/joins that AQE can re-plan for skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textops import spread_small_input, sql_tokens, token_array


def _h64(col: F.Column, seed) -> F.Column:
    """Deterministic 32-bit-range hash shared bit-for-bit with DuckDB:
    first 8 hex chars of md5(value || '#' || seed) as a bigint."""
    s = F.concat(col, F.lit("#"), F.lit(str(seed)) if not isinstance(seed, F.Column) else seed.cast("string"))
    return F.conv(F.substring(F.md5(s), 1, 8), 16, 10).cast("long")


def exact_dedup(df: DataFrame, text_col="text", id_col="doc_id") -> DataFrame:
    """(content_hash, n_dups, keep_id): exact duplicate groups; keep_id is
    the smallest id (the canonical survivor)."""
    return (
        df.select(F.md5(F.col(text_col)).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_dups"), F.min(id_col).alias("keep_id"))
    )


def _shingle_array(text_col, n: int):
    """array<string> of n-gram word shingles for one doc, built inside the
    projection — ``transform(sequence(...))`` + ``slice`` over the token
    array.  No posexplode, no window sort: at 100 TB the earlier
    window-lead shape shuffled and sorted the whole token stream, paid by
    every consumer of the minhash -> LSH -> near-dup chain.  For tokens
    t1..tm the shingles are t_i..t_{i+n-1}, i = 1..m-n+1 (empty when
    m < n — sequence() would otherwise count DOWN from 1)."""
    toks = token_array(text_col)
    m = F.size(toks)
    return F.when(
        m >= n,
        F.transform(
            F.sequence(F.lit(1), m - (n - 1)),
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        ),
    ).otherwise(F.array().cast("array<string>"))


def shingles(df: DataFrame, n: int = 3, text_col="text", id_col="doc_id") -> DataFrame:
    """(id, shingle): distinct n-gram word shingles.  array_distinct runs
    per row, so the only exploded rows are already unique — no shuffle
    (beyond the conditional small-input spread)."""
    return spread_small_input(df).select(
        F.col(id_col),
        F.explode(F.array_distinct(_shingle_array(F.col(text_col), n))).alias("shingle"),
    )


def _minhash_agg(df: DataFrame, num_perm: int, shingle_n: int, text_col: str, id_col: str) -> DataFrame:
    """One row per doc with num_perm min-hash columns ``m0..m{k-1}``.

    Shape chosen for both codegen AND shuffle volume: shingles come from
    the in-projection array builder (no window sort over the token
    stream), and the num_perm seeded md5s + mins run inside ONE
    whole-stage-codegen hash aggregation with map-side partial combine —
    the exchange moves one (id, k mins) row per doc per map partition,
    never the shingle stream.  (A pure higher-order-function variant —
    aggregate + zip_with over the shingle array — was measured 5x slower
    at sf0.1: lambda evaluation is interpreted, per-element allocations
    swamp the saved exchange.)  Docs with no shingles have no row."""
    sh = shingles(df, shingle_n, text_col, id_col)
    return sh.groupBy(id_col).agg(
        *[F.min(_h64(F.col("shingle"), s)).alias(f"m{s}") for s in range(num_perm)]
    )


def minhash_signatures(
    df: DataFrame, num_perm: int = 8, shingle_n: int = 3, text_col="text", id_col="doc_id"
) -> DataFrame:
    """(id, seed, minhash): num_perm seeded min-hashes over n-gram
    shingles.  posexplode only unpacks the per-doc num_perm-element
    result — the heavy stream never shuffles (see _minhash_agg)."""
    agg = _minhash_agg(df, num_perm, shingle_n, text_col, id_col)
    pairs = F.posexplode(F.array(*[F.col(f"m{s}") for s in range(num_perm)]))
    return (
        agg.select(F.col(id_col), pairs.alias("seed", "minhash"))
        .select(F.col(id_col), F.col("seed").cast("int").alias("seed"), "minhash")
    )


def lsh_candidate_pairs(
    df: DataFrame,
    num_perm: int = 8,
    band_size: int = 2,
    shingle_n: int = 3,
    text_col="text",
    id_col="doc_id",
    max_bucket: int = 1000,
) -> DataFrame:
    """(id_a, id_b): pairs sharing at least one LSH band (band key =
    md5 of the band's concatenated minhashes); the band equi-join is the
    scale path — no all-pairs comparison ever happens.

    ``max_bucket`` is the skew guard: the self-join is quadratic PER band
    key, so one degenerate bucket (empty docs, license boilerplate)
    would stall the stage at scale.  Bucket sizes are counted first (one
    map-side-combined aggregation) and buckets above the cap are dropped
    before the join — standard web-scale MinHash-dedup practice; members
    of a mega-bucket are near-dups of boilerplate, not of each other's
    payload, and exact/fingerprint dedup catches the true-identical ones.
    """
    agg = _minhash_agg(df, num_perm, shingle_n, text_col, id_col)
    if num_perm % band_size:
        # a silent floor would compute-and-discard the remainder minhash
        # columns and quietly lower candidate recall vs the requested
        # permutation count — loud beats silent
        raise ValueError(f"band_size={band_size} must divide num_perm={num_perm}")
    n_bands = num_perm // band_size
    # band keys computed in the projection right after the signature agg,
    # concatenated in SEED ORDER: proper LSH banding requires per-seed
    # agreement across the whole band — sorting the band's minhashes
    # first would collide signatures that are mere permutations of each
    # other (A=(X,Y) vs B=(Y,X) share no seed yet got equal keys),
    # admitting unrelated docs as candidates and, through connected
    # components, merging them into one dedup cluster
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.md5(
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"m{s}").cast("string")
                            for s in range(b * band_size, (b + 1) * band_size)
                        ],
                    )
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    bands = (
        agg.select(F.col(id_col), F.explode(band_structs).alias("bs"))
        .select(id_col, "bs.band", "bs.band_key")
    )
    # bucket-size guard as a WINDOW over the same key the self-join uses
    # (round 7, guide §2.4): the old groupBy+join shape shuffled the band
    # stream once for the size aggregation, again for the filter join and
    # again per self-join side; a count() window partitioned by
    # (band, band_key) establishes that partitioning ONCE, and the
    # self-join below joins on exactly those keys over two identical
    # subtrees — the exchange is reused, no re-shuffle.
    from pyspark.sql import Window as _W

    _w = _W.partitionBy("band", "band_key")
    bands = (
        bands.withColumn("_bsz", F.count(F.lit(1)).over(_w))
        .filter((F.col("_bsz") >= 2) & (F.col("_bsz") <= max_bucket))
        .drop("_bsz")
    )
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.band_key") == F.col("b.band_key")) & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")))
        .select(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .distinct()
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    candidates: DataFrame | None = None,
    min_jaccard: float = 0.0,
    text_col="text",
    id_col="doc_id",
) -> DataFrame:
    """(id_a, id_b, jaccard): exact distinct-token Jaccard for candidate
    pairs (from LSH, or any (id_a, id_b) frame).  Every candidate pair
    gets a row: zero-overlap pairs (and pairs whose doc tokenizes to
    nothing) score jaccard=0.0 rather than silently vanishing —
    downstream logic that counts or thresholds verified pairs must see
    a scored rejection, not a missing row.

    Round-7 shape (guide §2.3/§2.4): the per-doc DISTINCT TOKEN SET is
    built in the projection (``array_distinct`` over the token array —
    no explode, no shuffle) and attached to each candidate side with one
    join; ``|A∩B|`` is ``size(array_intersect(...))`` per pair.  The old
    explode-join shape shuffled the token STREAM into an (id, term)
    equi-join plus a count aggregation plus two size joins — 4 extra
    exchanges of token-scale data.  Now only the candidate pairs and one
    doc-level array table move; equal by definition (array_intersect is
    set intersection and both sides are distinct arrays)."""
    if candidates is None:
        candidates = lsh_candidate_pairs(df, text_col=text_col, id_col=id_col)
    tok_sets = df.select(
        F.col(id_col),
        F.array_distinct(token_array(F.col(text_col))).alias("_ts"),
    )
    ta = tok_sets.select(F.col(id_col).alias("id_a"), F.col("_ts").alias("_ts_a"))
    tb = tok_sets.select(F.col(id_col).alias("id_b"), F.col("_ts").alias("_ts_b"))
    inter_n = F.coalesce(
        F.size(F.array_intersect(F.col("_ts_a"), F.col("_ts_b"))), F.lit(0)
    )
    # size(NULL array) = -1; a candidate id absent from df keeps the old
    # left-join semantics (counts as size 0)
    sz = lambda c: F.greatest(F.coalesce(F.size(F.col(c)), F.lit(0)), F.lit(0))  # noqa: E731
    denom = sz("_ts_a") + sz("_ts_b") - inter_n
    jac = F.when(denom > 0, F.round(inter_n / denom, 6)).otherwise(F.lit(0.0))
    return (
        candidates.join(ta, "id_a", "left")
        .join(tb, "id_b", "left")
        .select("id_a", "id_b", jac.alias("jaccard"))
        .filter(F.col("jaccard") >= min_jaccard)
    )


def simhash(df: DataFrame, bits: int = 16, text_col="text", id_col="doc_id") -> DataFrame:
    """(id, simhash): bitwise majority over distinct-term hashes.

    One hash aggregation with ``bits`` conditional-sum columns — no row
    inflation (the naive explode-per-bit shape multiplies the token
    stream x64 at production simhash widths), fully codegen'd, one
    shuffle, map-side combined.  Each 32-bit word of the fingerprint
    draws from an independently-seeded term hash, so widths up to 64 get
    real entropy.  Bit 63's weight wraps to int64 min in both Spark and
    DuckDB, so the packed value is the signed reinterpretation of the
    bit pattern — consistent across engines."""
    toks = sql_tokens(df, text_col, id_col).distinct()
    n_words = (bits + 31) // 32
    h = toks.select(
        F.col(id_col), *[_h64(F.col("term"), w).alias(f"h{w}") for w in range(n_words)]
    )
    votes = h.groupBy(id_col).agg(
        *[
            F.sum(
                F.when(
                    F.expr(f"shiftright(h{b // 32}, {b % 32})").bitwiseAND(F.lit(1)) == 1, 1
                ).otherwise(-1)
            ).alias(f"s{b}")
            for b in range(bits)
        ]
    )
    weight = lambda b: (1 << b) if b < 63 else -(1 << 63)  # noqa: E731
    packed = sum(
        (
            F.when(F.col(f"s{b}") > 0, F.lit(weight(b)).cast("long")).otherwise(F.lit(0).cast("long"))
            for b in range(bits)
        ),
        start=F.lit(0).cast("long"),
    )
    return votes.select(F.col(id_col), packed.alias("simhash"))


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    id_out: str = "doc_id",
    comp_out: str = "component",
    max_iter: int = 50,
    checkpoint_dir: str | None = None,
    algorithm: str = "label",
) -> DataFrame:
    """(doc_id, component) for every node appearing in ``pairs``:
    ``component`` = the smallest node id reachable through the pair
    graph — the step that turns near-dup PAIRS into dedup CLUSTERS
    (keep ``component`` itself, drop the rest).

    Iterative min-label propagation: every round each node takes the min
    of its own label and its neighbors' labels, until a fixpoint
    (converges in O(graph diameter) rounds — near-dup graphs are unions
    of small cliques, so typically 2-3).  Each round is one equi-join +
    one map-side-combined min aggregation.  The convergence probe reuses
    the staged frames — one tiny join per round, cheaper than a wasted
    extra round.  For long-chain graphs the full large-star/small-star
    algorithm is implemented as ``algorithm="star"`` (below).

    Round staging (iterative lineage would otherwise double the plan
    every round): with ``checkpoint_dir`` each round's labels (and the
    doubled edge list, once) are written to parquet and read back — the
    cluster-real path, surviving executor loss because the staged data
    lives on the shared filesystem, not in executor memory.  Without it,
    rounds are ``localCheckpoint``-ed — fine in local mode, but on a
    real cluster localCheckpoint pins blocks to executors and dies with
    them, so pass ``checkpoint_dir`` there.  Intermediate round files
    are cleaned up (local filesystems only); the final round's parquet
    backs the returned DataFrame and is kept.

    ``algorithm``: ``"label"`` (default) is min-label propagation —
    O(graph diameter) rounds, the right choice for near-dup graphs
    (unions of small cliques, diameter 2-3).  ``"star"`` is the
    alternating large-star/small-star algorithm (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14) —
    O(log^2 n) rounds regardless of diameter, the robust choice when a
    corpus produces long transitive chains (A~B~C... of drifting
    near-dups).  Identical output; both honor ``checkpoint_dir``.

    Raises ``RuntimeError`` if the fixpoint is not reached within
    ``max_iter`` label-update rounds (truncated labels would be silently
    wrong — a graph still changing after that many rounds has diameter
    > max_iter; raise ``max_iter`` or pass ``algorithm="star"``).
    Convergence needs one extra CONFIRMING round (a round that observes
    no change), so the loop runs up to max_iter + 1 times — a graph of
    diameter exactly max_iter converges rather than raising.
    """
    spark = pairs.sparkSession
    # validated before the local fast path: a misspelled name must not
    # succeed on small inputs and fail only once they outgrow the cap
    if algorithm not in ("label", "star"):
        raise ValueError(f"unknown algorithm {algorithm!r} (label | star)")

    # Driver-local fast path (round 7): the same adaptive pattern as
    # BM25Index.search's prefer_local — a SMALL pair set never needs a
    # distributed fixpoint iteration (each round is 2+ jobs; at sandbox
    # scales the iteration is pure scheduling latency).  One bounded
    # limit-collect decides: under the cap, union-find with min-root on
    # the driver produces BIT-IDENTICAL components (min over UTF-8
    # strings == Spark's string min; ints trivially); over the cap the
    # early-stopped CollectLimit aborts cheaply and the distributed
    # iteration below runs unchanged.  Cap parameterised for clusters
    # (spark.beetle.cc.localPairsMax, rows; 0 disables).
    local_max = int(spark.conf.get("spark.beetle.cc.localPairsMax", "100000"))
    if local_max > 0:
        head = pairs.select(a_col, b_col).limit(local_max + 1).collect()
        if len(head) <= local_max:
            parent: dict = {}

            def find(x):
                r = x
                while parent[r] != r:
                    r = parent[r]
                while parent[x] != r:
                    parent[x], x = r, parent[x]
                return r

            for r_ in head:
                a, bb = r_[0], r_[1]
                parent.setdefault(a, a)
                parent.setdefault(bb, bb)
                ra, rb = find(a), find(bb)
                if ra != rb:
                    parent[ra] = rb
            comp_min: dict = {}
            roots = {x: find(x) for x in parent}
            for x, r in roots.items():
                m = comp_min.get(r)
                if m is None or x < m:
                    comp_min[r] = x
            if algorithm == "label":
                # honor the distributed contract exactly: label
                # propagation converges in max-hop-distance-from-the-
                # component-minimum rounds; beyond max_iter it RAISES
                # rather than returning (the same truncation guard).
                # One multi-source BFS from every component minimum.
                from collections import deque

                adj: dict = {}
                for r_ in head:
                    a, bb = r_[0], r_[1]
                    adj.setdefault(a, []).append(bb)
                    adj.setdefault(bb, []).append(a)
                depth = {m: 0 for m in comp_min.values()}
                dq = deque(depth)
                max_depth = 0
                while dq:
                    x = dq.popleft()
                    dx = depth[x]
                    for y in adj.get(x, ()):
                        if y not in depth:
                            depth[y] = dx + 1
                            if dx + 1 > max_depth:
                                max_depth = dx + 1
                            dq.append(y)
                if max_depth > max_iter:
                    raise RuntimeError(
                        f"connected_components did not converge within max_iter={max_iter} "
                        "rounds; the pair graph has diameter beyond that — raise max_iter "
                        "(or upgrade to large-star/small-star for pathological chains)"
                    )
            a_type = dict(pairs.dtypes)[a_col]
            return spark.createDataFrame(
                [(x, comp_min[r]) for x, r in sorted(roots.items())],
                f"{id_out} {a_type}, {comp_out} {a_type}",
            )

    staged_paths: list[str] = []

    def _stage(df: DataFrame, name: str) -> DataFrame:
        if checkpoint_dir is None:
            return df.localCheckpoint(eager=True)
        path = f"{checkpoint_dir}/{name}"
        df.write.mode("overwrite").parquet(path)
        staged_paths.append(path)
        return spark.read.parquet(path)

    if algorithm == "star":
        return _cc_star(
            pairs, a_col, b_col, id_out, comp_out, max_iter, _stage, staged_paths,
            checkpoint_dir,
        )

    edges = pairs.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst")).union(
        pairs.select(F.col(b_col).alias("src"), F.col(a_col).alias("dst"))
    )
    edges = _stage(edges, "edges")  # reused every round
    labels = _stage(
        edges.select(F.col("src").alias("node")).distinct().withColumn("lab", F.col("node")),
        "labels_0",
    )
    converged = False
    # max_iter bounds label-UPDATE rounds; the fixpoint is only observable
    # by a round that sees no change, so allow one extra confirming round
    # (a diameter-== max_iter graph is converged, not an error).
    for rnd in range(1, max_iter + 2):
        prop = edges.join(labels, edges["src"] == labels["node"]).select(
            F.col("dst").alias("node"), F.col("lab"), F.lit(0).alias("own")
        )
        # the node's previous label rides the SAME aggregation as the
        # min-propagation (own=1 marks the self row, of which every node
        # has exactly one), so the convergence probe is a filter over the
        # staged round — no extra per-round join (round-7, guide §2.4)
        new_full = _stage(
            labels.select("node", "lab", F.lit(1).alias("own"))
            .unionByName(prop)
            .groupBy("node")
            .agg(
                F.min("lab").alias("lab"),
                F.min(F.when(F.col("own") == 1, F.col("lab"))).alias("_old"),
            ),
            f"labels_{rnd}",
        )
        changed = new_full.filter(F.col("lab") != F.col("_old")).take(1)
        labels = new_full.select("node", "lab")
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds; the pair graph has diameter beyond that — raise max_iter "
            "(or upgrade to large-star/small-star for pathological chains)"
        )
    if checkpoint_dir is not None and staged_paths:
        # drop intermediate rounds + edges; the last labels parquet backs
        # the returned frame.  Local paths only — remote staging dirs are
        # the caller's to manage.
        import os
        import shutil

        for p in staged_paths[:-1]:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    return labels.select(F.col("node").alias(id_out), F.col("lab").alias(comp_out))


def _cc_star(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    id_out: str,
    comp_out: str,
    max_iter: int,
    _stage,
    staged_paths: list[str],
    checkpoint_dir: str | None,
) -> DataFrame:
    """Alternating large-star/small-star connected components (Kiveris
    et al., SoCC'14 — the published MapReduce formulation, re-expressed
    as two groupBy-min rounds per iteration).

    large-star: every node u links each LARGER neighbor v to
    m = min(N(u) ∪ {u}); small-star: orient edges toward the larger
    endpoint, then u links each smaller-or-self node to the minimum.
    The edge set monotonically contracts toward star graphs rooted at
    each component's minimum id in O(log^2 n) alternations regardless
    of graph diameter — the scale-robust path for long chains, where
    label propagation needs O(diameter) rounds.  Convergence = the
    small-star output equals its input (exceptAll probe — one tiny
    distinct join per round on the shrinking edge list)."""
    edges = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .filter(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b")
        )
        .distinct()
    )
    edges = _stage(edges, "star_0")
    converged = False
    # same confirming-round allowance as the label path: max_iter bounds
    # CONTRACTING alternations, +1 round observes the fixpoint.
    for rnd in range(1, max_iter + 2):
        # ---- large-star: group by EVERY endpoint (bidirected view)
        bi = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionByName(
            edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
        )
        m_large = bi.groupBy("u").agg(
            F.least(F.min("v"), F.first("u")).alias("m")
        )
        ls = (
            bi.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.least("v", "m").alias("a"), F.greatest("v", "m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )
        # ---- small-star: orient toward the larger endpoint, link the
        # smaller ones (and the center) to the minimum
        sm = ls.select(F.col("b").alias("u"), F.col("a").alias("v"))
        m_small = sm.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            sm.join(m_small, "u")
            .select(F.col("v"), F.col("m"))
            .unionByName(m_small.select(F.col("u").alias("v"), F.col("m")))
            .filter(F.col("v") != F.col("m"))
            .select(F.col("m").alias("a"), F.col("v").alias("b"))
            .distinct()
        )
        new = _stage(ss, f"star_{rnd}")
        changed = (
            new.exceptAll(edges).take(1) or edges.exceptAll(new).take(1)
        )
        edges = new
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"star connected_components did not converge within max_iter={max_iter} "
            "alternations — pathological input; raise max_iter"
        )
    # final star edges are (root, child); roots label themselves
    labels = edges.select(F.col("b").alias("node"), F.col("a").alias("lab")).unionByName(
        edges.select(F.col("a").alias("node"), F.col("a").alias("lab")).distinct()
    )
    # the a != b canonicalization drops self-pairs entirely, but the
    # contract is "every node appearing in pairs" (the label path keeps
    # such nodes and labels them with themselves) — re-add any node the
    # contraction never saw as its own singleton component
    nodes = (
        pairs.select(F.col(a_col).alias("node"))
        .unionByName(pairs.select(F.col(b_col).alias("node")))
        .distinct()
    )
    labels = labels.unionByName(
        nodes.join(labels, "node", "left_anti").select(
            F.col("node"), F.col("node").alias("lab")
        )
    )
    labels = _stage(labels.distinct(), "star_labels")
    if checkpoint_dir is not None and staged_paths:
        import os
        import shutil

        for p in staged_paths[:-1]:
            if os.path.isdir(p):
                shutil.rmtree(p, ignore_errors=True)
    return labels.select(F.col("node").alias(id_out), F.col("lab").alias(comp_out))
