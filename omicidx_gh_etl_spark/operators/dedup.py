"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame/expression compositions (JVM-side,
whole-stage-codegen'd; no row-at-a-time Python UDFs anywhere). The
one Arrow-batched exception: :func:`dedup_paragraphs` defaults to a
``mapInPandas`` chunk producer because Spark's array
higher-order-function lambdas are interpreted and measure ~2× slower
than batched Python string ops (the ``engine="sql"`` path keeps the
pure-expression plan, output pinned identical).

- ``exact_dedup``            — hash-groupBy exact duplicate clustering
- ``shingles``               — word n-gram shingling (the common substrate)
- ``jaccard_pairs``          — exact n-gram Jaccard via shingle-inverted-index
                               self-join (no O(n²) cross join)
- ``minhash_lsh_candidates`` — MinHash signatures + LSH banding
- ``simhash``                — per-document SimHash fingerprint
- ``connected_components_star`` — near-dup pair edges → components via
                               large-star/small-star contraction
                               (O(log² n) rounds on any topology)
- ``latest_by_key``          — window dedup (the reference's documented gap:
                               "deduplicate by accession + update timestamp",
                               ebi_biosample/README.md Known Issues #4)

Scale design: every pairwise step goes through an inverted index
(explode → equi-join on shingle/band hash), so the shuffle keys are
content hashes — uniformly distributed, skew-free — and the join
output is proportional to true candidate pairs, not n². That is the
property that survives 100 TB: a hot shingle is the only blowup risk,
so callers can cap shingle document-frequency (``max_shingle_df``)
exactly like production near-dup pipelines drop stop-shingles.

Determinism: hashes are md5-based (not Spark's xxhash64) so a DuckDB
oracle can reproduce signatures bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def tokens_sql(text_col: str) -> str:
    """Whitespace tokens, empties dropped, as a SQL fragment (matches
    DuckDB ``list_filter(string_split(text,' '), x -> x <> '')``).

    Written as ``array_remove(split(trim(x), ' +'), '')`` rather than
    the literal ``filter(split(x, ' '), x -> x != '')``: identical
    output (trim+collapse-runs ≡ drop-empties; the ``array_remove``
    only fires on the all-spaces/empty edge where split returns
    ``['']``), but ~30% faster — ``filter``'s per-element lambda is
    interpreted, never codegen'd, while this chain stays inside
    whole-stage codegen. Equivalence pinned by
    ``tests/test_operators.py::test_tokens_sql_matches_filter_form``.
    """
    return f"array_remove(split(trim({text_col}), ' +'), '')"


def tokens_expr(text_col: str) -> Column:
    """:func:`tokens_sql` as a Column."""
    return F.expr(tokens_sql(text_col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate clusters by content hash.

    Returns one row per distinct content: (fp, keeper=min id, n_copies).
    Scale: single hash-partition shuffle on the 128-bit fingerprint —
    perfectly uniform keys, partial aggregation collapses duplicates
    map-side.
    """
    return (
        df.select(F.md5(F.col(text_col)).alias("fp"), F.col(id_col))
        .groupBy("fp")
        .agg(F.min(id_col).alias("keeper"), F.count("*").alias("n_copies"))
    )


def shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Word ``n``-gram shingle set per document → rows (id, shingle).

    Documents with fewer than ``n`` tokens yield zero shingles
    (sequence guard — Spark's ``sequence(1,0)`` would descend).
    """
    toks = df.selectExpr(f"`{id_col}`", f"{tokens_sql(text_col)} AS t")
    # Expression string keeps the construction line-for-line comparable
    # with the DuckDB oracle SQL. The CASE guards short docs: Spark's
    # sequence(0, -1) would produce a *descending* sequence, not empty.
    arr = (
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, size(t) - {n}), i -> {_gram_sql(n)}) "
        f"ELSE array() END"
    )
    if distinct:
        arr = f"array_distinct({arr})"
    return toks.selectExpr(f"`{id_col}`", f"explode({arr}) AS shingle")


def _gram_sql(n: int) -> str:
    parts = ", ".join(f"t[i + {k}]" for k in range(n))
    return f"concat_ws(' ', {parts})"


def positional_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int = 8
) -> DataFrame:
    """Word ``n``-gram shingles WITH their 0-based start position →
    rows (id, pos, shingle). The substrate for exact-substring span
    detection (:func:`duplicate_span_runs`), where *where* a shingle
    occurs matters, not just *whether* it occurs."""
    toks = df.selectExpr(f"`{id_col}`", f"{tokens_sql(text_col)} AS t")
    arr = (
        f"CASE WHEN size(t) >= {n} THEN "
        f"transform(sequence(0, size(t) - {n}), i -> {_gram_sql(n)}) "
        f"ELSE array() END"
    )
    return toks.selectExpr(
        f"`{id_col}`", f"posexplode({arr}) AS (pos, shingle)"
    )


def duplicate_span_runs(
    pos_shingle_df: DataFrame,
    id_col: str,
    n: int,
    min_len: int,
    max_shingle_df: int | None = None,
    include_within_doc: bool = False,
) -> DataFrame:
    """Maximal shared exact token runs between document pairs — the
    distributed form of exact-substring training-data dedup
    (Lee et al. 2022, "Deduplicating Training Data Makes Language
    Models Better": duplicated spans, not whole near-dup documents,
    are what LMs memorize).

    Pipeline (all DataFrame ops, one lineage):

    1. inverted-index equi-join of positional ``n``-gram hashes
       (md5 → 128-bit key: shuffle carries a fixed-width hash, not
       the n-token span text; oracle-reproducible unlike xxhash64),
       ``d1 < d2`` → matched anchor positions (d1, d2, p1, p2);
    2. consecutive anchors with the same alignment offset
       ``p1 - p2`` form a shared run — classic gaps-islands:
       ``island = p1 - row_number()`` within (d1, d2, offset), since
       p1 is unique per offset group (p2 ≡ p1 - offset);
    3. one aggregate per island → (start1, start2,
       len_tokens = matched shingles + n - 1), filtered to
       ``len_tokens >= min_len``.

    Scale: the join shuffles on content-hash keys (uniform, skew-free)
    and its output is ∝ true matched anchors — no n² anywhere. The one
    blowup risk is a corpus-hot shingle (boilerplate header shared by
    millions of docs): ``max_shingle_df`` drops shingles occurring
    more than that many times BEFORE the join, exactly the stop-gram
    cap production exact-substring pipelines apply. The gaps-islands
    window repartitions on (d1, d2, offset) — per-pair state only,
    no global sort.
    """
    sh = pos_shingle_df.select(
        F.col(id_col), F.col("pos"), F.md5("shingle").alias("sh")
    )
    if max_shingle_df is not None:
        # Broadcast the HOT list (df_ > cap — tiny by construction: a
        # handful of boilerplate shingles) and anti-join it away. The
        # complement (shingles under the cap) is corpus-proportional —
        # broadcasting THAT would OOM at 100 TB.
        freq = sh.groupBy("sh").agg(F.count("*").alias("df_"))
        hot = freq.filter(F.col("df_") > max_shingle_df).select("sh")
        sh = sh.join(F.broadcast(hot), "sh", "left_anti")
    a = sh.select(F.col(id_col).alias("d1"), F.col("pos").alias("p1"), "sh")
    b = sh.select(F.col(id_col).alias("d2"), F.col("pos").alias("p2"), "sh")
    pair_filter = F.col("d1") < F.col("d2")
    if include_within_doc:
        # self-alignments too: a shingle repeated inside ONE document
        # matches itself at (p1 < p2); the same gaps-islands run logic
        # then yields (doc, doc, start1, start2) runs where start2 is
        # the LATER in-document copy
        pair_filter = pair_filter | (
            (F.col("d1") == F.col("d2")) & (F.col("p1") < F.col("p2"))
        )
    m = a.join(b, ["sh"]).filter(pair_filter).select("d1", "d2", "p1", "p2")
    off = F.col("p1") - F.col("p2")
    w = W.partitionBy("d1", "d2", off).orderBy("p1")
    runs = m.withColumn("isl", F.col("p1") - F.row_number().over(w))
    return (
        runs.groupBy("d1", "d2", off.alias("off"), "isl")
        .agg(
            F.min("p1").alias("start1"),
            F.min("p2").alias("start2"),
            (F.count("*") + F.lit(n - 1)).alias("len_tokens"),
        )
        .filter(F.col("len_tokens") >= min_len)
        .select("d1", "d2", "start1", "start2", "len_tokens")
    )


def _tokenize_positions(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """(id, pos, tok) rows — the shared rewrite-side tokenization for
    both corpus-rewrite operators (empty-doc and ordering semantics
    live HERE, in one place)."""
    qid = f"`{id_col}`"
    return (
        df.select(F.col(id_col), tokens_expr(text_col).alias("__t"))
        .where(F.size("__t") > 0)
        .selectExpr(qid, "posexplode(__t)")
        .withColumnRenamed("col", "tok")
    )


def _reassemble(kept: DataFrame, id_col: str, text_col: str,
                piece_col: str = "tok") -> DataFrame:
    """(id, pos, piece) → one row per doc with pieces rejoined in
    position order — the shared rewrite-side rebuild."""
    return kept.groupBy(id_col).agg(
        F.expr(
            f"concat_ws(' ', transform(array_sort(collect_list("
            f"struct(pos, {piece_col}))), x -> x.{piece_col}))"
        ).alias(text_col)
    )


def remove_duplicate_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_len: int = 12,
    max_shingle_df: int | None = 50,
) -> DataFrame:
    """Exact-substring EXCISION (Lee et al. 2022 §4: "we remove all
    but one copy of each duplicated span"): find maximal shared runs
    via :func:`duplicate_span_runs` — across documents AND repeated
    within one document — then rewrite the corpus with every LATER
    copy cut out (cross-doc: d1 < d2 keeps the first document's copy;
    within-doc: the earlier position survives). Documents left with
    zero tokens disappear.

    Retention caveat (inherent to single-pass pairwise excision, not a
    bug to fix silently): the kept copy is "first per PAIR". Under a
    CHAIN of partially-overlapping spans across ≥3 documents, a region
    whose keeper copy was itself excised by an earlier-doc pair can end
    up retained nowhere; and strongly periodic text collapses toward
    one period. Where absolute span retention matters, iterate to a
    fixpoint or verify with :func:`duplicate_span_runs` post-pass —
    C4/Lee-style corpus prep accepts the single pass.

    Plan: span detection as analyzed on :func:`duplicate_span_runs`;
    per-doc removal intervals are collect_list'd — bounded only
    because corpus-hot spans are capped (``max_shingle_df`` defaults
    ON at 50; pass None consciously, accepting O(dup-count) interval
    arrays on heavily-copied docs) — joined back one-row-per-doc, and
    tokens are dropped by an ``exists`` probe over that small array
    (overlapping intervals need no merge — containment in ANY interval
    drops the token). Token text crosses the wire once for the final
    per-doc rebuild.
    """
    spans = duplicate_span_runs(
        positional_shingles(df, text_col, id_col, n=n),
        id_col,
        n=n,
        min_len=min_len,
        max_shingle_df=max_shingle_df,
        include_within_doc=True,
    )
    return _excise_spans(df, spans, text_col, id_col)


def _excise_spans(
    df: DataFrame, spans: DataFrame, text_col: str, id_col: str
) -> DataFrame:
    """Apply precomputed (d2, start2, len_tokens) removal spans to the
    corpus — split out so the fixpoint variant can detect ONCE per
    round instead of twice (probe + rewrite)."""
    ivs = (
        spans.select(
            F.col("d2").alias(id_col),
            F.struct(
                F.col("start2").alias("s"),
                (F.col("start2") + F.col("len_tokens")).alias("e"),
            ).alias("iv"),
        )
        .groupBy(id_col)
        .agg(F.collect_list("iv").alias("__rm"))
    )
    toks = _tokenize_positions(df, text_col, id_col)
    kept = toks.join(ivs, id_col, "left").filter(
        "__rm IS NULL OR NOT exists(__rm, iv -> pos >= iv.s AND pos < iv.e)"
    )
    return _reassemble(kept, id_col, text_col)


def jaccard_pairs(
    shingle_df: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similarity pairs via inverted-index join.

    (d1, d2, jaccard) for every pair sharing ≥1 shingle with
    jaccard ≥ threshold, d1 < d2.

    Scale: |output of the self-join| = Σ_shingle df², so extremely
    common shingles dominate cost; ``max_shingle_df`` drops them (they
    carry almost no similarity signal), the standard trick at corpus
    scale.
    """
    sh = shingle_df
    if max_shingle_df is not None:
        # broadcast the tiny HOT set (df_ > cap) and anti-join — its
        # complement is corpus-proportional and must never broadcast
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        hot = freq.filter(F.col("df_") > max_shingle_df).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    jac = F.col("n_inter").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_inter")
    )
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .filter(jac >= threshold)
        .select("d1", "d2", F.round(jac, 4).alias("jaccard"))
    )


def containment_pairs(
    shingle_df: DataFrame,
    id_col: str,
    threshold: float,
    max_shingle_df: int | None = None,
) -> DataFrame:
    """Shingle-containment pairs: |A∩B| / min(|A|,|B|) ≥ threshold.

    Catches what symmetric Jaccard misses: a short document quoted or
    embedded inside a long one scores near-zero Jaccard (union is
    huge) but containment ≈ 1 — the subset/quotation case every
    training-data dedup needs. Same inverted-index plan as
    :func:`jaccard_pairs` (shuffle on content-hash shingle keys,
    output ∝ true candidate pairs, ``max_shingle_df`` caps hot
    shingles).
    """
    sh = shingle_df
    if max_shingle_df is not None:
        # broadcast the tiny HOT set (df_ > cap) and anti-join — its
        # complement is corpus-proportional and must never broadcast
        freq = sh.groupBy("shingle").agg(F.count("*").alias("df_"))
        hot = freq.filter(F.col("df_") > max_shingle_df).select("shingle")
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n_sh"))
    a = sh.select(F.col(id_col).alias("d1"), "shingle")
    b = sh.select(F.col(id_col).alias("d2"), "shingle")
    inter = (
        a.join(b, ["shingle"])
        .filter(F.col("d1") < F.col("d2"))
        .groupBy("d1", "d2")
        .agg(F.count("*").alias("n_inter"))
    )
    sa = sizes.select(F.col(id_col).alias("d1"), F.col("n_sh").alias("n1"))
    sb = sizes.select(F.col(id_col).alias("d2"), F.col("n_sh").alias("n2"))
    cont = F.col("n_inter").cast("double") / F.least(F.col("n1"), F.col("n2"))
    return (
        inter.join(sa, "d1")
        .join(sb, "d2")
        .filter(cont >= threshold)
        .select("d1", "d2", F.round(cont, 4).alias("containment"))
    )


def minhash_lsh_candidates(
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    max_bucket_size: int | None = None,
    hash_family: str = "md5",
) -> DataFrame:
    """MinHash + LSH banding candidate pairs (d1 < d2, distinct).

    Signature: ONE PERMUTATION HASHING (Li, Owen & Zhang 2012) — one
    44-bit md5 hash ``x`` per shingle, the hash space split into
    ``num_hashes`` bins by ``x % num_hashes``, signature row j =
    min x within bin j, empty bins filled by rotation densification
    (first non-empty bin clockwise). Bins see DISJOINT random shingle
    subsets, so signature rows are independent and the ``bands``-band
    S-curve holds at ~J^rows_per_band per band. (A seed-linear family
    like ``a + i*b`` would NOT work here: consecutive rows share their
    argmin shingle, a band degenerates to ~J sensitivity, and every
    doc sharing one low-hashing shingle floods the buckets —
    simulation-verified before choosing this construction.)

    Scale / plan shape (the reason this isn't the naive formulation):

    - Each shingle row computes ONE md5 as a map-side codegen'd
      projection (hashing is the dominant map cost — per-seed md5s
      would multiply it by ``num_hashes``); ONE groupBy(id) with
      per-bin conditional MIN yields the signature. BIGINT (not
      hex-string) min buffers keep this a HashAggregate with map-side
      partial aggregation — min(string) would force a SortAggregate
      over every shingle row.
    - Band signatures are derived column-wise from the one signature
      row (no second aggregation).
    - Pairs come from groupBy(band, bsig) + sorted collect_list +
      in-bucket pair explosion — NOT a self-join. A self-join on the
      band signature recomputes the whole shingle→signature lineage
      for each side (Spark only reuses exchanges for identical
      subplans, which broadcast hints break); the bucket-aggregate
      form computes it once and shuffles on the 128-bit bsig —
      uniformly distributed, skew-free keys.
    - Bucket sizes are true near-dup cluster sizes, so the pair
      explosion is quadratic only in genuine duplicate clusters —
      exactly the output size. ``max_bucket_size`` drops degenerate
      mega-clusters (e.g. millions of copies of an empty document) at
      corpus scale, where emitting their n² pairs is never wanted.

    ``hash_family``: ``"md5"`` (default) keeps signatures reproducible
    by the DuckDB oracle — ``('0x' || substr(md5(shingle), 1, 11))::
    BIGINT``; ``"xxhash64"`` is the PRODUCTION fast path (~2× overall
    at 30× scale, measured: the md5 hex + string base-conversion chain
    is the dominant map cost) — same OPH construction over Spark's
    native 64-bit hash, so the banding S-curve is identical in
    structure, just not cross-engine reproducible.
    """
    band_sig = minhash_band_signatures(
        shingle_df, id_col, num_hashes, bands, hash_family
    )
    return lsh_pairs_from_bands(band_sig, id_col, max_bucket_size)


def lsh_eval(
    shingle_df: DataFrame,
    id_col: str,
    threshold: float = 0.5,
    num_hashes: int = 12,
    bands: int = 4,
) -> DataFrame:
    """Measure the LSH banding gate against exact Jaccard ground truth
    → ONE row ``(n_true, n_candidates, n_hit, recall,
    precision_at_threshold)`` — the tuning step that turns the (bands,
    rows) S-curve from theory into a measured number before a corpus
    run commits to it.

    ``recall`` = fraction of true pairs (exact Jaccard ≥ threshold)
    the banding surfaced — LSH's only silent failure mode (a missed
    candidate is never revisited; false candidates just cost verify
    work, captured by ``precision_at_threshold``).

    Plan: both sides reuse the SAME shingle frame — exact truth via
    the inverted-index :func:`jaccard_pairs` (pairs sharing ≥1
    shingle; exhaustive for any threshold > 0), candidates via
    :func:`minhash_lsh_candidates` — then one full-outer join on the
    (d1, d2) pair keys and a single-row aggregate. Pair frames are
    output-sized (near-dup pairs, not the corpus), so the eval costs
    roughly one exact-dedup pass; run it on a SAMPLE at 100 TB (the
    S-curve is a property of the banding parameters, not the corpus
    size — a hash-stratified sample estimates it).
    """
    true_pairs = jaccard_pairs(shingle_df, id_col, threshold=threshold)
    cand = minhash_lsh_candidates(shingle_df, id_col, num_hashes, bands)
    t = true_pairs.select("d1", "d2", F.lit(1).alias("t"))
    c = cand.select("d1", "d2", F.lit(1).alias("c"))
    return (
        t.join(c, ["d1", "d2"], "full_outer")
        .agg(
            # coalesce INSIDE the sums: after the full-outer join every
            # one-sided row has a NULL factor, so in the zero-hit regime
            # sum(t*c) would be NULL and the ratio CASEs below would
            # yield NULL where the oracle (which coalesces first) yields
            # 0.0 — exactly the total-miss case this eval exists to flag.
            F.sum(F.coalesce(F.col("t"), F.lit(0))).alias("n_true"),
            F.sum(F.coalesce(F.col("c"), F.lit(0))).alias("n_candidates"),
            F.sum(
                F.coalesce(F.col("t"), F.lit(0))
                * F.coalesce(F.col("c"), F.lit(0))
            ).alias("n_hit"),
        )
        .selectExpr(
            # outer coalesce only for the empty-frame case (agg over
            # zero rows is NULL-summed regardless of the inner coalesce)
            "coalesce(n_true, 0) AS n_true",
            "coalesce(n_candidates, 0) AS n_candidates",
            "coalesce(n_hit, 0) AS n_hit",
            "CASE WHEN n_true > 0 THEN round(CAST(n_hit AS DOUBLE)"
            " / n_true, 4) END AS recall",
            "CASE WHEN n_candidates > 0 THEN round(CAST(n_hit AS DOUBLE)"
            " / n_candidates, 4) END AS precision_at_threshold",
        )
    )


def minhash_band_signatures(
    shingle_df: DataFrame,
    id_col: str,
    num_hashes: int = 12,
    bands: int = 4,
    hash_family: str = "md5",
) -> DataFrame:
    """OPH minhash signature → (id, band, bsig) band-signature rows —
    the PERSISTABLE LSH index half of :func:`minhash_lsh_candidates`
    (same construction, see that docstring). Write this table once per
    corpus (e.g. as a SnapshotTable partitioned/sorted by (band,
    bsig)); then each new ingest batch only computes ITS OWN bands and
    joins — see :func:`incremental_lsh_candidates`."""
    rows_per_band = num_hashes // bands
    assert rows_per_band * bands == num_hashes, "bands must divide num_hashes"
    if hash_family == "xxhash64":
        # mask to 62 bits: keeps x nonnegative (so x % bins is a true
        # bin index) without abs()'s Long.MIN_VALUE edge case.
        x_sql = f"(xxhash64(shingle) & {(1 << 62) - 1})"
    elif hash_family == "md5":
        x_sql = "cast(conv(substring(md5(shingle), 1, 11), 16, 10) as bigint)"
    else:
        raise ValueError(f"unknown hash_family: {hash_family!r}")
    qid = f"`{id_col}`"  # backtick-quote: id_col is a NAME, not SQL
    hashed = shingle_df.selectExpr(
        qid, f"{x_sql} AS x", f"({x_sql} % {num_hashes}) AS bin"
    )
    # The signature/densify/band expressions below are BUILT AS SQL
    # STRINGS passed through a handful of selectExpr/expr calls rather
    # than ~200 Column-object compositions: each Column op is a py4j
    # round trip, and this construction ran on every plan assembly
    # (profiled: ~0.5 s of the minhash builder's 0.8 s at 12 hashes).
    # The parsed plans are identical.
    sig = hashed.groupBy(id_col).agg(
        F.expr(
            "struct("
            + ", ".join(
                f"min(CASE WHEN bin = {j} THEN x END) AS s{j}"
                for j in range(num_hashes)
            )
            + ")"
        ).alias("s")
    )
    # rotation densification: an empty bin (doc has < num_hashes
    # distinct shingle hashes in that residue class) borrows the first
    # non-empty bin clockwise — every signature row is defined for any
    # doc with ≥1 shingle.
    sig = sig.selectExpr(
        qid,
        *[
            "coalesce("
            + ", ".join(f"s.s{(j + k) % num_hashes}" for k in range(num_hashes))
            + f") AS minh{j}"
            for j in range(num_hashes)
        ],
    )

    def _bsig_sql(b: int) -> str:
        row_cols = ", ".join(
            f"minh{b * rows_per_band + r}" for r in range(rows_per_band)
        )
        if hash_family == "xxhash64":
            # native multi-arg hash of the BIGINT rows — no hex string
            return f"xxhash64({row_cols})"
        return f"md5(concat_ws(',', {row_cols}))"

    bands_arr = ", ".join(
        f"struct({b} AS band, {_bsig_sql(b)} AS bsig)" for b in range(bands)
    )
    return sig.selectExpr(
        qid, f"explode(array({bands_arr})) AS bs"
    ).selectExpr(qid, "bs.band AS band", "bs.bsig AS bsig")


def dedup_paragraphs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
    engine: str = "arrow",
) -> DataFrame:
    """C4-style paragraph-level dedup WITH document reassembly: split
    each document into fixed ``chunk_tokens``-token paragraphs, keep
    only the globally FIRST occurrence of every distinct paragraph
    (ordered by (doc, position) — C4 \"discard all but one of any
    span occurring more than once\", Raffel 2020 §2.2), then rebuild
    each surviving document from its kept paragraphs in order.
    Documents whose every paragraph was seen earlier disappear
    entirely (a fully-boilerplate doc contributes nothing).

    Differs from :func:`exact_substring_spans` (which *reports*
    duplicated spans): this op rewrites the corpus — the shape that
    actually feeds training.

    Plan, shared by both engines: chunk production (map-only), then
    winner selection as ``groupBy(para).agg(min(struct(id, pos)))`` —
    a HASH aggregate with map-side partials whose min-struct order is
    exactly the ``row_number() OVER (PARTITION BY para ORDER BY id,
    pos)`` total order, minus the window's per-partition string sort —
    then one per-doc re-aggregation. The winner key is the paragraph
    VALUE (exact — no hash-collision false drops; high-cardinality
    and uniform, so the shuffle is skew-free).

    ``engine`` picks the chunk producer:

    - ``"arrow"`` (default): Arrow-batched ``mapInPandas`` — plain
      ``str.split``/``join`` per batch, stateless, memory bounded by
      the Arrow batch size. Spark's array higher-order-function
      lambdas (``filter``/``transform``/``slice``) are interpreted,
      not codegen'd, and measure ~2× slower than Python string ops at
      500k docs (BENCH_DETAIL ``dedup_paragraphs_rewrite``); this is
      the documented exception to the expressions-first rule.
    - ``"sql"``: the pure-expression plan (posexplode over
      slice/concat_ws of the token array) — zero Python workers, for
      Python-less executors or plan-audit baselines. Bit-identical
      output (pytest-pinned).
    """
    keep = (
        paragraph_chunks(df, text_col, id_col, chunk_tokens, engine)
        .groupBy("para")
        .agg(F.min(F.struct(F.col(id_col).alias("i"),
                            F.col("pos").alias("p"))).alias("w"))
        .select(F.col("w.i").alias(id_col), F.col("w.p").alias("pos"),
                "para")
    )
    return _reassemble(keep, id_col, text_col, piece_col="para")


def paragraph_chunks(
    df: DataFrame,
    text_col: str,
    id_col: str,
    chunk_tokens: int = 10,
    engine: str = "arrow",
) -> DataFrame:
    """The chunk-production stage of :func:`dedup_paragraphs` on its
    own → ``(id, pos, para)`` — exposed so the bench can decompose the
    row (chunker vs winner-selection tail) and callers can reuse the
    chunking for other paragraph-granularity ops.

    Measured at 500k docs (r9): the arrow python-str chunker is the
    FASTEST of three implementations — the codegen'd HOF slice plan
    ("sql" engine) runs 2.0x slower (interpreted lambdas), and a JVM
    ``regexp_extract_all('(\\S+( \\S+){0,9})')`` greedy-group chunker
    (bit-identical output) 1.2x slower (backtracking group). Arrow
    batch sizing is flat here (2048: 1.9x worse from per-batch python
    overhead; 5k-20k within ±5%) — unlike the blocks scan, the chunker
    is compute-bound in python str work, not transfer-bound, so batch
    pipelining has nothing to hide.

    Measured rejection (round 10, do not re-try blindly): a
    ``mapInArrow`` numpy kernel that re-sliced the utf8 data buffer by
    offsets arithmetic (guide §4.2's buffer re-slicing pattern; exact
    per-row fallback for irregular spacing) was bit-identical but NOT
    faster: equal-at-best at ~60-token docs and 3× SLOWER at
    ~600-token docs (counterbalanced A/B, materialized input: 5.9 s vs
    1.9 s at 100k long docs). The kernel makes ~15 full passes over
    the batch bytes (space scan, per-byte range cumsum/mask, compress)
    where CPython's C-level ``str.split``/``join`` touches each byte
    ~twice and allocates only the output — buffer re-slicing pays off
    when it REPLACES per-row work entirely (fixed-width slicing, no
    content scan), not when the row work is already a C loop over the
    same bytes.
    """
    if engine not in ("arrow", "sql"):
        raise ValueError(f"engine must be 'arrow' or 'sql', got {engine!r}")
    qid = f"`{id_col}`"
    if engine == "arrow":
        from pyspark.sql.types import IntegerType, StringType, StructField
        from pyspark.sql.types import StructType

        in_id = df.schema[id_col]
        out_schema = StructType([
            StructField(id_col, in_id.dataType, in_id.nullable),
            StructField("pos", IntegerType(), False),
            StructField("para", StringType(), False),
        ])
        ct = chunk_tokens

        def _chunk_batches(batches):
            import pandas as pd

            for pdf in batches:
                ids: list = []
                poss: list = []
                paras: list = []
                for did, txt in zip(pdf.iloc[:, 0].values,
                                    pdf.iloc[:, 1].values):
                    if not txt:
                        continue
                    toks = [x for x in txt.split(" ") if x]
                    for p in range((len(toks) + ct - 1) // ct):
                        ids.append(did)
                        poss.append(p)
                        paras.append(" ".join(toks[p * ct:p * ct + ct]))
                yield pd.DataFrame(
                    {id_col: ids, "pos": poss, "para": paras}
                )

        chunks = df.select(F.col(id_col), F.col(text_col)).mapInPandas(
            _chunk_batches, out_schema
        )
    else:
        # project the token array ONCE: higher-order-function lambdas
        # are not subexpression-hoisted, so splitting inline would
        # re-tokenize the full text per chunk (O(tokens²) character
        # work per doc)
        toked = df.select(
            F.col(id_col), tokens_expr(text_col).alias("__t")
        ).where(F.size("__t") > 0)
        chunks = (
            toked.selectExpr(
                qid,
                f"posexplode(transform("
                f"sequence(0, cast(ceil(size(__t) / {chunk_tokens}.0) as int)"
                f" - 1), i -> concat_ws(' ', slice(__t,"
                f" i * {chunk_tokens} + 1, {chunk_tokens}))))",
            )
            .withColumnRenamed("col", "para")
        )
    return chunks


def remove_duplicate_spans_fixpoint(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 8,
    min_len: int = 12,
    max_shingle_df: int | None = 50,
    max_iters: int = 5,
) -> DataFrame:
    """Iterated :func:`remove_duplicate_spans` until no ≥``min_len``
    duplicated span remains (or ``max_iters``). What it DELIVERS is
    the no-duplicates postcondition a single pass cannot promise —
    chained overlaps that a single pass leaves behind are cleaned up
    over rounds. What it CANNOT do is restore content: iteration only
    excises more, so a region the first pass already dropped
    everywhere (the chained-retention caveat on
    :func:`remove_duplicate_spans`) stays gone. Choose it when the
    corpus must end duplicate-free, not to improve retention.

    Iterative by nature (like k-means/connected components): one span
    detection per round (materialized small, probed with ``isEmpty``,
    reused for the rewrite); ``localCheckpoint`` truncates lineage
    between rounds. Rounds needed equal the longest excision chain —
    2 covers real corpora; adversarial periodic input can exhaust the
    cap, in which case a ``UserWarning`` reports that duplicated
    spans remain rather than silently violating the postcondition.
    """
    def _detect(d: DataFrame) -> DataFrame:
        return duplicate_span_runs(
            positional_shingles(d, text_col, id_col, n=n),
            id_col, n=n, min_len=min_len,
            max_shingle_df=max_shingle_df, include_within_doc=True,
        )

    cur = df.select(F.col(id_col), F.col(text_col))
    for _ in range(max_iters):
        spans = _detect(cur).localCheckpoint(eager=True)
        if spans.isEmpty():
            return cur
        cur = _excise_spans(cur, spans, text_col, id_col).localCheckpoint(
            eager=True
        )
    if not _detect(cur).isEmpty():
        import warnings

        warnings.warn(
            f"span excision did not converge within {max_iters} rounds; "
            f"duplicated spans of >= {min_len} tokens remain"
        )
    return cur


def lsh_pairs_from_bands(
    band_sig: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """(id, band, bsig) band rows → distinct candidate pairs (d1 < d2)
    via the bucket-aggregate pair explosion (no self-join — see
    minhash_lsh_candidates' plan-shape notes)."""
    buckets = band_sig.groupBy("band", "bsig").agg(
        F.expr(f"array_sort(collect_list(`{id_col}`))").alias("ids")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(f"size(ids) <= {int(max_bucket_size)}")
    return (
        buckets.filter("size(ids) > 1")
        .selectExpr(
            "explode(flatten(transform(ids, (x, i) -> "
            "transform(slice(ids, i + 2, size(ids)), "
            "y -> struct(x AS d1, y AS d2))))) AS p"
        )
        .selectExpr("p.d1", "p.d2")
        .distinct()
    )


def incremental_lsh_candidates(
    index_bands: DataFrame,
    delta_bands: DataFrame,
    id_col: str,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup candidates for a NEW ingest batch against an existing
    corpus, without recomputing the corpus: (d1 < d2) pairs where at
    least one side is a delta doc.

    ``index_bands`` is the persisted (id, band, bsig) table for the
    already-deduped corpus (:func:`minhash_band_signatures`, written
    once); ``delta_bands`` the same for the new batch only. Per
    increment this does O(|delta| + matched-bucket) work:

    - delta × corpus: one equi-join on (band, bsig) — uniform md5
      keys; AQE broadcasts the delta side when the batch is small,
      which is the common production shape (daily batch vs 100 TB
      corpus). Corpus-internal pairs are NOT re-derived — they were
      resolved when the corpus was deduped.
    - delta-internal: the standard bucket-aggregate explosion over the
      delta bands alone.

    ``max_bucket_size`` caps degenerate corpus buckets: a hot bsig
    matching millions of corpus docs (empty/boilerplate documents)
    would fan every matching delta doc out by that million — cap and
    route to a quarantine list, as in the batch operator."""
    d = delta_bands.select(
        F.col("band"), F.col("bsig"), F.col(id_col).alias("__d")
    )
    ix = index_bands.select(
        F.col("band"), F.col("bsig"), F.col(id_col).alias("__b")
    )
    if max_bucket_size is not None:
        hot = (
            ix.groupBy("band", "bsig")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket_size)
            .select("band", "bsig")
        )
        ix = ix.join(hot, ["band", "bsig"], "left_anti")
    cross = (
        d.join(ix, ["band", "bsig"])
        .filter(F.col("__d") != F.col("__b"))
        .select(
            F.least("__d", "__b").alias("d1"),
            F.greatest("__d", "__b").alias("d2"),
        )
    )
    internal = lsh_pairs_from_bands(
        delta_bands, id_col, max_bucket_size=max_bucket_size
    )
    return cross.union(internal).distinct()


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 16) -> DataFrame:
    """SimHash fingerprint per document → (id, simhash BIGINT).

    Token hash = first ``bits/4`` md5 hex chars → ``bits``-wide int
    (the hash must span the full signature width — a narrower token
    hash would pin the high signature bits to 0 and make them useless
    for banded search); each bit contributes ±1 weighted by token
    frequency; simhash bit j is the sign of the sum. Bit extraction
    uses floor(h/2^j) % 2 — exact in both engines' doubles for
    h < 2^52 — instead of engine-specific shift operators, so the
    oracle reproduces it verbatim.

    Scale: |tokens| × bits intermediate rows, two hash aggregations,
    no joins. Near-dup *search* over the signatures is
    :func:`simhash_band_pairs`.
    """
    assert bits % 4 == 0 and bits <= 52, "bits: multiple of 4, double-exact"
    qid = f"`{id_col}`"
    per_bit = (
        df.selectExpr(
            qid, f"explode({tokens_sql(text_col)}) AS tok"
        )
        .selectExpr(
            qid,
            f"cast(conv(substring(md5(tok), 1, {bits // 4}), 16, 10) "
            "as bigint) AS h16",
        )
        .selectExpr(qid, f"explode(sequence(0, {bits - 1})) AS j", "h16")
        .selectExpr(
            qid, "j",
            "CASE WHEN CAST(floor(h16 / power(2, j)) AS BIGINT) % 2 = 1 "
            "THEN 1 ELSE -1 END AS contrib",
        )
        .groupBy(id_col, "j")
        .agg(F.expr("sum(contrib)").alias("s"))
    )
    return per_bit.groupBy(id_col).agg(
        F.expr(
            "sum(CASE WHEN s > 0 THEN CAST(power(2, j) AS BIGINT) ELSE 0 END)"
        ).alias("simhash")
    )


def simhash_band_pairs(
    sig: DataFrame,
    id_col: str,
    simhash_col: str = "simhash",
    bits: int = 32,
    bands: int = 4,
    max_hamming: int = 3,
    max_bucket_size: int | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``,
    found via band buckets — the search counterpart of :func:`simhash`.

    Pigeonhole guarantee: a pair within hamming distance d differs in
    at most d bands, so with ``bands > max_hamming`` every qualifying
    pair collides on at least one full band — banding is EXACT here
    (unlike MinHash LSH), and the final ``bit_count(xor) <= d`` filter
    just removes false candidates.

    Scale: same single-lineage bucket-aggregate shape as
    :func:`minhash_lsh_candidates` — one groupBy on (band, band-value)
    with the (id, simhash) pair carried in the bucket, so the exact
    hamming filter needs no join back to the signature table. Expected
    bucket size is n / 2^(bits/bands) per band; size the signature
    (64/128-bit in production) so buckets stay near cluster size, and
    cap degenerate buckets with ``max_bucket_size``.
    """
    assert bands > max_hamming, "pigeonhole needs bands > max_hamming"
    band_bits = bits // bands
    assert band_bits * bands == bits, "bands must divide bits"
    banded = sig.select(
        F.struct(F.col(id_col).alias("id"), F.col(simhash_col).alias("sh")).alias(
            "rec"
        ),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        (
                            F.floor(
                                F.col(simhash_col) / F.lit(2 ** (b * band_bits))
                            ).cast("bigint")
                            % F.lit(2**band_bits)
                        ).alias("bval"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("rec", "bb.band", "bb.bval")
    buckets = banded.groupBy("band", "bval").agg(
        F.array_sort(F.collect_list("rec")).alias("recs")
    )
    if max_bucket_size is not None:
        buckets = buckets.filter(F.size("recs") <= max_bucket_size)
    pairs = buckets.filter(F.size("recs") > 1).select(
        F.explode(
            F.expr(
                "flatten(transform(recs, (x, i) -> "
                "transform(slice(recs, i + 2, size(recs)), "
                "y -> struct(x.id AS d1, y.id AS d2, "
                "bit_count(x.sh ^ y.sh) AS hamming))))"
            )
        ).alias("p")
    )
    return (
        pairs.select("p.d1", "p.d2", "p.hamming")
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "d1",
    b_col: str = "d2",
    max_iter: int = 20,
) -> DataFrame:
    """Cluster near-dup pair edges into connected components →
    (node, component) with component = min node id reachable.

    The step AFTER candidate generation in every production dedup
    pipeline: near-dup pairs (from MinHash/SimHash) chain into groups
    (A~B, B~C ⇒ {A,B,C}), and one keeper per component survives.

    Alternating large-star / small-star contraction (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC 2014). Plain
    min-label propagation needs O(diameter) rounds — fine for dense
    near-dup clusters but adversarial on chain-shaped graphs (URL
    redirect chains, citation paths), where a 10⁶-node path needs 10⁶
    rounds. Star contraction halves path lengths every alternation,
    converging in O(log² n) rounds on ANY topology.

    Input contract: a node appears in the output iff it has an edge to
    a DIFFERENT node. Self-loop edges are dropped, so a node whose only
    edge is ``(x, x)`` is absent rather than a singleton component;
    LSH candidate pairs are always ``d1 < d2``, so no caller passes
    one. An empty edge list yields an empty frame.

    Each phase is one groupBy(min) + one equi-join re-emit, shuffling
    on node ids (content hashes here — uniform, skew-free). Rounds are
    ``localCheckpoint``-ed to truncate lineage. Convergence = the
    small-star edge set reaching a fixpoint, detected with a
    count + xxhash64-sum signature (one tiny aggregate per round, no
    second shuffle of the edges).

    * large-star(u): every neighbor v > u re-attaches to
      m = min(N(u) ∪ {u}).
    * small-star(u): with edges oriented u > v, every small neighbor
      (and u itself) attaches to m = min(N(u)) — after a large-star
      pass m is the component min for star roots.
    """

    def _canon(e: DataFrame) -> DataFrame:
        # orient u > v, one row per undirected edge, self-loops dropped
        return (
            e.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )

    def _signature(e: DataFrame) -> tuple[int, int]:
        row = e.agg(
            F.count("*").alias("n"),
            # decimal sum: immune to ANSI long-overflow on hash sums
            F.coalesce(
                F.sum(F.xxhash64("u", "v").cast("decimal(38,0)")), F.lit(0)
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    edges = _canon(
        pairs.select(F.col(a_col).alias("u"), F.col(b_col).alias("v"))
    ).localCheckpoint(eager=True)
    nodes = (
        edges.select(F.col("u").alias("node"))
        .union(edges.select("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    sig = _signature(edges)
    for _ in range(max_iter):
        # large-star: symmetrize, m = min over (neighbors ∪ self),
        # re-emit (v, m) for strictly-larger neighbors v.
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = (
            sym.groupBy("u")
            .agg(F.min("v").alias("mv"))
            .select("u", F.least("mv", "u").alias("m"))
        )
        large = _canon(
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
        )
        # small-star on the u>v orientation: m = min neighbor; attach
        # every neighbor and u itself to m.
        smins = large.groupBy("u").agg(F.min("v").alias("m"))
        small = _canon(
            large.join(smins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .union(smins.select("u", F.col("m").alias("v")))
        ).localCheckpoint(eager=True)
        new_sig = _signature(small)
        edges = small
        if new_sig == sig:
            break
        sig = new_sig
    # fixpoint edges form stars rooted at component minima; isolated
    # roots (the minima themselves) map to self.
    return nodes.join(
        edges.select(F.col("u").alias("node"), F.col("v").alias("component")),
        "node",
        "left",
    ).select(
        "node", F.coalesce("component", "node").alias("component")
    )


def latest_by_key(
    df: DataFrame, key_cols: list[str], order_cols: list[Column]
) -> DataFrame:
    """Keep the latest record per key (window dedup).

    ``order_cols`` must be a total order (include a unique tiebreak).
    Reference gap: ebi_biosample/README.md "Known Issues #4".
    """
    w = W.partitionBy(*key_cols).orderBy(*order_cols)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")
