"""Similarity search over embedding columns (``array<float>``).

- ``cosine_sim_expr``  — JVM-side cosine between two array<double> cols
                         (zip_with product + aggregate sum; no UDF)
- ``cosine_topk``      — brute-force top-k against one query vector
                         (the exactness baseline): ``engine="sql"``
                         expression cosine, or ``engine="arrow"``
                         batched numpy gemv; bit-identical rows
- ``pack_vector_blocks`` / ``cosine_topk_blocks`` — the same exact
                         top-k over fixed-width f32 blocks packed once
                         at ingest (the transfer-optimal scan layout)
- ``cosine_pairs``     — all-pairs above a threshold (small-n exactness
                         baseline; quadratic — never the scale path)
- ``ivf_assign``       — IVF cell assignment: nearest centroid per
                         vector. The scale path: centroids are a tiny
                         broadcast table; assignment is a map-only pass,
                         then ANN search probes only matching cells.

Determinism: similarities are computed in double (float32 inputs cast
up; products of float32 are exact in double) and rounded to 4 decimals
before any ordering, with id tiebreaks — the same total order the
DuckDB oracle produces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def _as_double(col: str | Column) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def dot_expr(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate — whole-stage-codegen'd."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def cosine_sim_expr(a: Column, b: Column) -> Column:
    return dot_expr(a, b) / (F.sqrt(dot_expr(a, a)) * F.sqrt(dot_expr(b, b)))


def _dot_sql(a: str, b: str) -> str:
    return (
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)"
    )


def _cos_sql(a: str, b: str) -> str:
    """cosine_sim_expr as ONE SQL string over named columns. Same
    parsed expression; a string parse is one JVM call where the Column
    composition is ~30 py4j round trips — used on the assembly-hot
    paths (profiled: ivf_search spent 0.6 s/plan building Columns)."""
    return (
        f"({_dot_sql(a, b)} / "
        f"(sqrt({_dot_sql(a, a)}) * sqrt({_dot_sql(b, b)})))"
    )


def _norm_sql(a: str) -> str:
    return f"sqrt({_dot_sql(a, a)})"


_FOLD_MAX_CENTROIDS = 1024
# probe-inlining cap (|queries| x nprobe): above this the literal
# map's per-row value copy loses to the broadcast hash join — see
# _probe_inline_sql's crossover measurement
_PROBE_INLINE_MAX_ENTRIES = 64


def _centroid_fold_sql(
    centroids: DataFrame, centroid_id_col: str, centroid_vec_col: str
) -> tuple[str, str] | None:
    """Collect a small-by-contract centroid frame into one SQL literal
    ``array(named_struct('cid', …, 'cvd', array(…), 'cn', sqrt(…)))``
    for the MAP-SIDE fold argmax (see :func:`ivf_assign`), or ``None``
    when the frame is unsuitable and the aggregate path must run:
    more than ``_FOLD_MAX_CENTROIDS`` rows (plan-literal size bound —
    the same kind of cap as bm25's ≤64-term literal switch), a
    non-integral centroid id (the aggregate path's ``-cid`` tiebreak
    is numeric-only too), a non-finite vector component (unprintable
    as a SQL literal), or zero rows (the cross-join path's empty
    result is the contract).

    Float components round-trip exactly: ``repr(float)`` is
    shortest-exact and SQL double literals parse correctly-rounded,
    so the literal doubles — and therefore every cosine / round(·,4)
    computed from them — are bit-identical to the DataFrame path's.
    The norm is precomputed in PYTHON (same bits: ``_dot_sql`` is a
    left-to-right fold from 0.0, exactly ``s = 0.0; s += x*x`` in
    IEEE doubles, and both ``math.sqrt`` and the JVM's sqrt are
    correctly rounded; a None component makes the norm NULL exactly
    as SQL null propagation does) — inlining ``sqrt(dot(vec,vec))``
    over the literal instead tripled the expression text and its
    constant-folding cost dominated plan build (measured: fold 0.362 s
    vs fold-with-python-norms 0.252 s per bench iteration).
    Returns ``(array_sql, cid_sql_type)``.
    """
    collected = _collect_vec_rows(centroids, centroid_id_col, centroid_vec_col)
    if collected is None:
        return None
    rows, dt = collected
    return _centroid_fold_from_rows(rows, dt)


def _collect_vec_rows(
    df: DataFrame, id_col: str, vec_col: str
) -> tuple[list, str] | None:
    """Collect a small-by-contract (id, vector) frame for literal
    inlining → ``(rows_as(cid, cvd double array), id_sql_type)``, or
    ``None`` when the frame is unsuitable (non-integral id, empty, or
    over the ``_FOLD_MAX_CENTROIDS`` literal-size cap). Shared by the
    centroid fold and the probe inliner so both validate identically
    and ``ivf_search`` collects each side exactly once."""
    dt = df.schema[id_col].dataType.simpleString()
    if dt not in ("tinyint", "smallint", "int", "bigint"):
        return None
    rows = df.selectExpr(
        f"`{id_col}` AS cid",
        f"cast(`{vec_col}` as array<double>) AS cvd",
    ).limit(_FOLD_MAX_CENTROIDS + 1).collect()
    if not rows or len(rows) > _FOLD_MAX_CENTROIDS:
        return None
    return rows, dt


def _centroid_fold_from_rows(rows: list, dt: str) -> tuple[str, str] | None:
    import math

    structs = []
    for r in rows:
        cid = (f"cast(null as {dt})" if r["cid"] is None
               else f"cast({int(r['cid'])} as {dt})")
        if r["cvd"] is None:
            vec = "cast(null as array<double>)"
            cn = "cast(null as double)"
        else:
            if any(x is not None and not math.isfinite(x)
                   for x in r["cvd"]):
                return None
            vec = "array(" + ",".join(
                "cast(null as double)" if x is None else repr(float(x)) + "D"
                for x in r["cvd"]
            ) + ")"
            if any(x is None for x in r["cvd"]):
                cn = "cast(null as double)"
            else:
                acc = 0.0
                for x in r["cvd"]:
                    acc += float(x) * float(x)
                cn = repr(math.sqrt(acc)) + "D"
        structs.append(
            f"named_struct('cid', {cid}, 'cvd', {vec}, 'cn', {cn})"
        )
    return "array(" + ",".join(structs) + ")", dt


def _fold_argmax_sql(cents_sql: str, cid_type: str, vn_col: str) -> str:
    """The per-row argmax-over-literal-centroids expression: one
    ``transform`` computes each centroid's rounded cosine ONCE, one
    ``aggregate`` folds to the best ``(s, cid)`` — ordering identical
    to the aggregate path's ``max(struct(s, -cid))``: highest rounded
    similarity, lowest centroid id on ties, null similarities ranked
    below every real one (and tie-broken by min cid when ALL are
    null, matching struct ordering's nulls-smallest)."""
    cos = _cos_pre_sql("c.cvd", "v", "c.cn", vn_col)
    return (
        f"aggregate(transform({cents_sql}, c -> named_struct("
        f"'s', round({cos}, 4), 'cid', c.cid)), "
        f"named_struct('s', cast(null as double),"
        f" 'cid', cast(null as {cid_type})), "
        "(acc, x) -> CASE"
        " WHEN x.s IS NULL AND acc.s IS NULL THEN"
        " IF(acc.cid IS NULL OR x.cid < acc.cid, x, acc)"
        " WHEN x.s IS NULL THEN acc"
        " WHEN acc.s IS NULL THEN x"
        " WHEN x.s > acc.s OR (x.s = acc.s AND x.cid < acc.cid) THEN x"
        " ELSE acc END)"
    )


def _probe_inline_sql(
    queries: DataFrame,
    query_id_col: str,
    query_vec_col: str,
    crows: list,
    cid_type: str,
    nprobe: int,
) -> tuple[str, list] | None:
    """The query→cell PROBE ranking computed on the driver and inlined
    as one SQL literal ``map(cell -> array(named_struct('q', q_id,
    'qvd', array(…), 'qn', …)))`` — the query-side twin of
    :func:`_centroid_fold_sql`. The probe inputs are tiny by contract
    (|Q|·K pairs) yet as a DataFrame subtree they cost a cross join,
    a rank window with its own exchange, and a broadcast build — all
    plan stages whose wall is scheduling, not compute. Inlined, the
    candidate join becomes ``explode(try_element_at(<map>, cell))``
    on the assigned corpus: zero probe-side stages, and unprobed
    cells drop via the NULL explode exactly as the inner join
    dropped them.

    Ranking is bit-identical to the window form ``row_number() OVER
    (ORDER BY round(cos, 4) DESC, cid)``: cosines are folded in
    Python over the same collected doubles (left-to-right IEEE, the
    :func:`_centroid_fold_sql` argument), and the 4-decimal rounding
    replicates Spark's ``round`` exactly — ``BigDecimal.valueOf
    (shortest-repr).setScale(4, HALF_UP)`` is ``Decimal(repr(x))
    .quantize('0.0001', ROUND_HALF_UP)``. Returns ``None`` (caller
    keeps the broadcast-join path) on any shape the SQL semantics of
    which the driver ranking does not replicate: non-integral or
    NULL q_id, NULL/non-finite/length-mismatched vectors (zip_with
    would NULL-pad), a zero norm (ANSI divide-by-zero), an empty or
    over-cap workload. Returns ``(map_sql, sorted probed cell ids)``
    — the cell list feeds manifest/partition pruning in
    ``ann_index.AnnIndex.search``.

    Inlining is capped at ``_PROBE_INLINE_MAX_ENTRIES`` total probes
    (|Q|·nprobe), NOT at the literal-size cap the centroid fold uses:
    ``try_element_at`` on a literal map COPIES the matched value —
    an array of (entries-per-cell) structs each carrying the full
    query vector — once per corpus/posting row, so the per-row cost
    grows linearly with batch size while the broadcast hash join
    streams matching build rows instead. Measured crossover
    (interleaved A/B @200k postings): 10 probes inline 0.71 s vs
    join 0.91 s; 300 probes inline 5.04 s vs join 3.43 s — small
    batches inline, large batches join."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    # nprobe < 1 must keep the join path (r10 advice): nprobe=0 would
    # emit an empty map() literal (VOID type → AnalysisException on
    # explode), and a NEGATIVE nprobe would hit Python's negative
    # slicing in ranked[:nprobe] and return rows where the join path
    # returns none — a silent parity break between the two paths.
    if int(nprobe) < 1:
        return None
    qdt = queries.schema[query_id_col].dataType.simpleString()
    if qdt not in ("tinyint", "smallint", "int", "bigint"):
        return None
    qrows = queries.selectExpr(
        f"`{query_id_col}` AS qid",
        f"cast(`{query_vec_col}` as array<double>) AS qvd",
    ).limit(_FOLD_MAX_CENTROIDS + 1).collect()
    if not qrows or len(qrows) * int(nprobe) > _PROBE_INLINE_MAX_ENTRIES:
        return None

    def _ok(vec) -> bool:
        return vec is not None and all(
            x is not None and math.isfinite(x) for x in vec
        )

    cents = []
    for r in crows:
        if r["cid"] is None or not _ok(r["cvd"]):
            return None
        cv = [float(x) for x in r["cvd"]]
        acc = 0.0
        for x in cv:
            acc += x * x
        cents.append((int(r["cid"]), cv, math.sqrt(acc)))
    probes_by_cell: dict = {}
    for r in qrows:
        if r["qid"] is None or not _ok(r["qvd"]):
            return None
        qv = [float(x) for x in r["qvd"]]
        acc = 0.0
        for x in qv:
            acc += x * x
        qn = math.sqrt(acc)
        ranked = []
        for cid, cv, cn in cents:
            if len(cv) != len(qv):
                return None
            dot = 0.0
            for a, bx in zip(qv, cv):
                dot += a * bx
            denom = qn * cn
            if denom == 0.0:
                return None
            r4 = float(
                Decimal(repr(dot / denom)).quantize(
                    Decimal("0.0001"), rounding=ROUND_HALF_UP
                )
            )
            ranked.append((-r4, cid))
        ranked.sort()
        for _, cid in ranked[: int(nprobe)]:
            probes_by_cell.setdefault(cid, []).append(
                (int(r["qid"]), qv, qn)
            )
    if not probes_by_cell:
        return None  # an empty map() literal is VOID-typed — unusable
    items = []
    for cid in sorted(probes_by_cell):
        structs = ", ".join(
            f"named_struct('q', cast({qid} as {qdt}), "
            "'qvd', array("
            + ",".join(repr(x) + "D" for x in qv)
            + f"), 'qn', {repr(qn)}D)"
            for qid, qv, qn in probes_by_cell[cid]
        )
        items.append(f"cast({cid} as {cid_type}), array({structs})")
    return "map(" + ", ".join(items) + ")", sorted(probes_by_cell)


def _cos_pre_sql(a: str, b: str, anorm: str, bnorm: str) -> str:
    """``_cos_sql`` with both norms HOISTED into named columns computed
    once per row of their own side. Inside a k-candidate cross join the
    naive form re-evaluates ``sqrt(dot(x,x))`` per PAIR — k× per
    vector against k centroids, |matched probes|× per posting. The
    hoisted norm is the identical expression over the same doubles, so
    the quotient and its round(·,4) are bit-identical; only the
    evaluation count changes (measured ~30% off the IVF serve scan)."""
    return f"({_dot_sql(a, b)} / ({anorm} * {bnorm}))"


def cosine_topk(
    emb: DataFrame,
    query: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_vec_col: str = "qv",
    engine: str = "sql",
) -> DataFrame:
    """Brute-force cosine top-k of ``emb`` against a 1-row query vector.

    Scale: the query side is broadcast (1×dim), so this is a map-only
    scan + TakeOrderedAndProject — embarrassingly parallel; the
    exactness baseline ANN variants are judged against.

    ``engine="arrow"`` swaps the per-row expression cosine for an
    Arrow-batched numpy gemv (``mapInArrow``): each batch computes all
    dots as one BLAS matrix-vector product, pre-selects its local
    top-k by the same (cos desc, id asc) order, and only those
    candidate rows reach the global TakeOrdered. Same double-precision
    math and 4-decimal rounding, so the result is bit-identical
    (pytest-pinned). Spark's array higher-order functions are
    interpreted per element — the gemv path trades an Arrow transfer
    of the vector column for native SIMD arithmetic, and wins once the
    scan is compute-dominated (~20% at 1M×128; more at higher dim).
    At 100 TB neither brute-force variant is the serving path — that
    is ``ivf_search``/``ann_index`` — this is the exact ground-truth
    pass that evals and index builds are judged against.
    """
    if engine not in ("sql", "arrow"):
        raise ValueError(f"engine must be 'sql' or 'arrow', got {engine!r}")
    if engine == "arrow":
        return _cosine_topk_arrow(
            emb, query, k, id_col, vec_col, query_vec_col
        )
    # Assembled with selectExpr/string filters, not Column chains: each
    # Column op is a py4j round trip + a JVM analyzer pass, and this
    # profiled at ~0.17 s/plan in Column form (plans identical).
    e = emb.selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v"
    )
    # query norm hoisted into the broadcast side: the naive cosine
    # recomputes sqrt(dot(qv,qv)) once per CORPUS row
    q = query.selectExpr(
        f"cast(`{query_vec_col}` as array<double>) AS qv"
    ).selectExpr("qv", f"{_norm_sql('qv')} AS qn")
    cos = _cos_pre_sql("v", "qv", _norm_sql("v"), "qn")
    return (
        e.crossJoin(F.broadcast(q))
        .selectExpr(id_col, f"round({cos}, 4) AS cos_sim")
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(k)
    )


def _uniform_lengths(vecs, dims: int) -> bool:
    """True iff EVERY list row has exactly ``dims`` elements. A
    total-element-count check alone accepts COMPENSATING ragged rows
    (e.g. [1,2],[3,4,5],[6] at dims=2 sums to n*dims) and a reshape
    would then silently shift every vector after the first ragged row
    under the wrong id — per-row lengths are the only safe gate for
    the zero-copy fast paths."""
    import pyarrow.compute as pc

    mm = pc.min_max(pc.list_value_length(vecs))
    lo, hi = mm["min"].as_py(), mm["max"].as_py()
    return lo == hi == dims


def _batch_topk_scores(arr, idn_all, qv, qn, kk, margin=1e-3):
    """Shared per-batch exact top-k kernel for the arrow engine and the
    block-layout scan (:func:`cosine_topk_blocks`): native-dtype gemv
    pre-selection (margin-padded pool — see the error bound in
    :func:`_cosine_topk_arrow`), float64 rescore of the pool with
    Spark's decimal HALF_UP rounding, (cos desc, id asc) local order,
    and the sql engine's null-cosine padding for degenerate corpora.
    Returns ``(ids list, cos list)`` of ≤ k rows."""
    import numpy as np

    n = arr.shape[0]
    idn = idn_all
    if n > kk:
        q_nat = qv.astype(arr.dtype, copy=False)
        d_nat = arr @ q_nat
        n2 = np.einsum("ij,ij->i", arr, arr)
        with np.errstate(divide="ignore", invalid="ignore"):
            cos_nat = d_nat / np.sqrt(n2 * (qn * qn))
        # zero-norm rows are NULL-cosine in the sql engine and sort
        # last there; exclude them from the pool the same way (NaN
        # would poison np.partition's pivot)
        cos_nat = np.where(np.isfinite(cos_nat), cos_nat, -np.inf)
        kth = np.partition(cos_nat, n - kk)[n - kk]
        pool = np.flatnonzero(cos_nat >= kth - margin)
        arr, idn = arr[pool], idn[pool]
    sub = arr.astype(np.float64, copy=False)
    norms = np.sqrt((sub * sub).sum(axis=1))
    with np.errstate(divide="ignore", invalid="ignore"):
        raw = (sub @ qv) / (norms * qn)
    # Spark round() is decimal HALF_UP (away from zero), NOT numpy's
    # banker's rounding — replicate it exactly
    cos = np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4
    finite = np.isfinite(cos)
    cos, idn = cos[finite], idn[finite]
    order = np.lexsort((idn, -cos))[:kk]
    out_ids = idn[order].tolist()
    out_cos = cos[order].tolist()
    if len(out_ids) < kk:
        # fewer finite rows than k: the sql engine's DESC sort puts
        # NULL cosines (zero-norm vectors) last but still inside the
        # LIMIT — emit the smallest-id null rows so the global
        # TakeOrdered agrees on degenerate corpora
        n_nulls = kk - len(out_ids)
        finite_set = set(out_ids)
        null_ids = sorted(
            i for i in idn_all.tolist() if i not in finite_set
        )[:n_nulls]
        out_ids += null_ids
        out_cos += [None] * len(null_ids)
    return out_ids, out_cos


def _cosine_topk_arrow(
    emb: DataFrame,
    query: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_vec_col: str,
) -> DataFrame:
    """Arrow/numpy engine for :func:`cosine_topk`: batch gemv +
    per-batch (cos desc, id asc) pre-selection, global TakeOrdered.

    The query vector is collected to the driver (1×dim — the same
    driver-materialized bound the broadcast in the sql path has) and
    closed over; per-batch state is O(k). Variable-length or
    null-element batches fall back to a per-row python loop — only
    fixed-width non-null embeddings take the reshape fast path.
    """
    import numpy as np

    qrows = query.select(F.col(query_vec_col).alias("qv")).head(2)
    if len(qrows) != 1:
        raise ValueError("query must have exactly one row")
    qv = np.asarray(qrows[0]["qv"], dtype=np.float64)
    qn = float(np.sqrt((qv * qv).sum()))
    kk = int(k)
    id_field = emb.schema[id_col]

    # Two-phase exact selection: a native-dtype (float32 for
    # array<float> inputs) gemv scans the batch, then ONLY a margin-
    # padded candidate pool is recomputed in float64 with the exact
    # HALF_UP rounding and (cos desc, id asc) order. Correct by error
    # bound, not by luck: a 64-dim float32 cosine differs from the
    # float64 value by ≤ ~dim·eps32 ≈ 8e-6, and rounded-4-decimal ties
    # span < 1e-4, so a 1e-3 margin around the float32 k-th best
    # provably contains every row the exact order could select — the
    # float32 pass halves memory bandwidth and skips the f64 copy of
    # the whole batch.
    MARGIN = 1e-3

    def _gemv_batches(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            vecs = b.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            # flatten(), NOT .values: .values returns the UNSLICED
            # child buffer, so every batch after the first (nonzero
            # slice offset) would size-mismatch and hit the slow
            # per-row fallback. to_numpy, NOT np.asarray(arrow,
            # dtype=...): the latter converts element-wise through
            # __iter__ (measured 3.8 s/64M floats vs ~40 ms for the
            # buffer view).
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            if vecs.null_count == 0 and _uniform_lengths(vecs, qv.size):
                arr = flat.reshape(n, qv.size)
            else:  # ragged/null rows: per-row (correctness fallback)
                arr = np.array(
                    [np.asarray(v, dtype=np.float64)
                     if v is not None and len(v) == qv.size
                     else np.full(qv.size, np.nan)
                     for v in vecs.to_pylist()]
                )
            idn_all = np.asarray(ids.to_numpy(zero_copy_only=False))
            out_ids, out_cos = _batch_topk_scores(
                arr, idn_all, qv, qn, kk, margin=MARGIN
            )
            yield pa.record_batch(
                [pa.array(out_ids), pa.array(out_cos, type=pa.float64())],
                names=[id_col, "cos_sim"],
            )

    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType([
        StructField(id_col, id_field.dataType, id_field.nullable),
        StructField("cos_sim", DoubleType(), True),
    ])
    return (
        emb.select(F.col(id_col), F.col(vec_col))
        .mapInArrow(_gemv_batches, out_schema)
        .orderBy(F.desc("cos_sim"), F.asc(id_col))
        .limit(kk)
    )


def pack_vector_blocks(
    df: DataFrame,
    vec_col: str = "embedding",
    id_col: str = "vec_id",
    dims: int | None = None,
    block_rows: int = 1024,
) -> DataFrame:
    """Ingest transform to the BLOCK layout: ``(n, ids, vecs)`` rows
    where ``vecs`` is ``n × dims`` float32 row-major bytes and ``ids``
    the matching ``n`` little-endian int64 ids — up to ``block_rows``
    vectors per row.

    Why blocks: with one vector per row the JVM→Python transfer pays a
    per-ROW cost (offsets bookkeeping, 10 M socket frames for 10 M
    vectors —
    measured ~2.4 s of a 10M×64 scan whose gemv is ~0.3 s). Blocks
    amortize that over ``block_rows`` vectors: ~10 k rows ship the
    same 2.5 GB as one contiguous buffer stream, and the scan kernel
    reinterprets each batch with two ``np.frombuffer`` calls. This is
    how production vector stores shard fixed-dim embeddings (FAISS
    shards, Lance/Vortex fixed-width blocks); at 100 TB the layout is
    chosen once at ingest and every brute-force/rerank scan inherits
    it. Block boundaries are per-Arrow-batch, so packing is map-only —
    no shuffle, any grouping is valid because the scan is order-free.

    Ingest validation (NOT silent): NULL or wrong-width vectors raise —
    the block layout stores exactly-``dims`` vectors by contract; clean
    them upstream (the per-row engines handle degenerate rows instead).
    """
    if dims is None:
        probe = df.select(F.col(vec_col)).filter(
            F.col(vec_col).isNotNull()
        ).first()
        if probe is None:
            raise ValueError(f"cannot infer dims: {vec_col} is all-null")
        dims = len(probe[0])
    dd = int(dims)
    br = int(block_rows)

    def _pack(batches):
        import numpy as np
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            vecs = b.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            if vecs.null_count:
                raise ValueError(
                    "pack_vector_blocks: NULL vectors are not packable; "
                    "filter or repair them at ingest"
                )
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            if not _uniform_lengths(vecs, dd):
                raise ValueError(
                    f"pack_vector_blocks: ragged vectors (expected "
                    f"{dd} dims each)"
                )
            mat = np.ascontiguousarray(flat, dtype="<f4").reshape(n, dd)
            idn = np.ascontiguousarray(
                ids.to_numpy(zero_copy_only=False), dtype="<i8"
            )
            outs = []
            for lo in range(0, n, br):
                hi = min(lo + br, n)
                outs.append(
                    (hi - lo, idn[lo:hi].tobytes(), mat[lo:hi].tobytes())
                )
            yield pa.record_batch(
                [
                    pa.array([o[0] for o in outs], type=pa.int32()),
                    pa.array([o[1] for o in outs], type=pa.binary()),
                    pa.array([o[2] for o in outs], type=pa.binary()),
                ],
                names=["n", "ids", "vecs"],
            )

    from pyspark.sql.types import (
        BinaryType, IntegerType, StructField, StructType,
    )

    out_schema = StructType([
        StructField("n", IntegerType(), False),
        StructField("ids", BinaryType(), False),
        StructField("vecs", BinaryType(), False),
    ])
    return df.select(F.col(id_col), F.col(vec_col)).mapInArrow(
        _pack, out_schema
    )


def cosine_topk_blocks(
    blocks: DataFrame,
    query: DataFrame,
    k: int = 10,
    dims: int | None = None,
    ids_col: str = "ids",
    vecs_col: str = "vecs",
    query_vec_col: str = "qv",
    id_scale: int = 1,
    id_offset_col: str | None = None,
) -> DataFrame:
    """Brute-force cosine top-k over the BLOCK layout
    (:func:`pack_vector_blocks`) — the transfer-optimal exact scan.

    Per Arrow batch the kernel reads ONE contiguous vecs buffer and one
    ids buffer (uniform-width blobs → ``np.frombuffer`` + reshape, zero
    copies), stacks every block in the batch into a single gemv, and
    emits ≤ k candidates through the shared exact kernel
    (:func:`_batch_topk_scores`) — float64 rescore, HALF_UP rounding,
    (cos desc, id asc) order, bit-identical to the sql engine on the
    unpacked column (pytest-pinned). ``id_scale``/``id_offset_col``
    re-base block-local ids to global ids (``global = local * scale +
    offset``) for merged shards whose local id spaces overlap — the
    same contiguous-global-ids convention as ``operators/ids.py``.

    Scale: map-only scan + TakeOrdered, embarrassingly parallel; the
    layout removes the per-row Arrow bookkeeping that dominated the
    per-vector engines (measured 10M×64: 2.4 s arrow → ~1.5 s blocks,
    vs a same-moment DuckDB ``list_dot_product`` scan at 1.2 s).

    Deployment note: size ``spark.sql.execution.arrow.maxRecordsPerBatch``
    so each task carries ≥4-8 Arrow batches of block rows (e.g. 16
    block-rows ≈ 8 MB at 2048×64-f32 blocks). With one giant batch
    per task the JVM producer and the python kernel run SERIALLY;
    with several, they pipeline — measured 2.5 s → 1.8 s on the
    10M-vector scan.
    """
    import numpy as np

    qrows = query.select(F.col(query_vec_col).alias("qv")).head(2)
    if len(qrows) != 1:
        raise ValueError("query must have exactly one row")
    qv = np.asarray(qrows[0]["qv"], dtype=np.float64)
    if dims is None:
        dims = qv.size
    dd = int(dims)
    qn = float(np.sqrt((qv * qv).sum()))
    kk = int(k)
    scale = int(id_scale)

    cols = [F.col(ids_col), F.col(vecs_col)]
    if id_offset_col is not None:
        cols.append(F.col(id_offset_col).cast("long").alias("__off"))

    def _scan(batches):
        import pyarrow as pa

        def _flat(col_a, dtype, width_bytes):
            if isinstance(col_a, pa.ChunkedArray):
                col_a = col_a.combine_chunks()
            odt = (
                np.int64
                if pa.types.is_large_binary(col_a.type) else np.int32
            )
            off = np.frombuffer(col_a.buffers()[1], odt)[
                col_a.offset : col_a.offset + n_rows + 1
            ]
            cnt = int(off[-1] - off[0]) // width_bytes
            return off, np.frombuffer(
                col_a.buffers()[2], dtype, offset=int(off[0]), count=cnt
            )

        for b in batches:
            n_rows = b.num_rows
            if n_rows == 0:
                continue
            ioff, idn = _flat(b.column(0), "<i8", 8)
            _voff, flat_v = _flat(b.column(1), "<f4", 4)
            nv = flat_v.size // dd
            arr = flat_v.reshape(nv, dd)
            if scale != 1:
                idn = idn * scale
            if len(b.columns) > 2:
                offs = b.column(2).to_numpy(zero_copy_only=False)
                per_block = np.diff(ioff) // 8
                idn = idn + np.repeat(offs, per_block)
            out_ids, out_cos = _batch_topk_scores(arr, idn, qv, qn, kk)
            yield pa.record_batch(
                [
                    pa.array(out_ids, type=pa.int64()),
                    pa.array(out_cos, type=pa.float64()),
                ],
                names=["vec_id", "cos_sim"],
            )

    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    out_schema = StructType([
        StructField("vec_id", LongType(), True),
        StructField("cos_sim", DoubleType(), True),
    ])
    return (
        blocks.select(*cols)
        .mapInArrow(_scan, out_schema)
        .orderBy(F.desc("cos_sim"), F.asc("vec_id"))
        .limit(kk)
    )


def _brute_topk(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    probe_id_col: str,
    exclude_self: bool = False,
    carry: tuple[str, ...] = (),
    engine: str = "sql",
) -> DataFrame:
    """Multi-query brute-force cosine top-k: ``corpus`` must expose
    (``id_col``, ``v``), ``probes`` (``probe_id_col``, ``qvd``) — both
    double arrays. One place owns the determinism contract (rounded
    similarity, id tiebreak) shared by every exact-ground-truth eval;
    ``carry`` names extra columns to keep on the output rows.

    ``engine="arrow"`` computes all probe×batch cosines as ONE BLAS
    gemm per Arrow batch and pre-selects each probe's local top-k
    (with exact rounded-tie inclusion) before the per-probe window —
    the window then ranks ~num_batches × k candidates per probe
    instead of the full corpus × probes cross product. Same f64 math,
    HALF_UP rounding and NULL-cosine LIMIT semantics; output
    pytest-pinned identical to the sql engine. The probe side is
    driver-materialized — the same small-eval-set bound the sql
    engine's broadcast already imposes."""
    if engine not in ("sql", "arrow"):
        raise ValueError(f"engine must be 'sql' or 'arrow', got {engine!r}")
    if engine == "arrow":
        return _brute_topk_arrow(
            corpus, probes, k, id_col, probe_id_col, exclude_self, carry
        )
    # hoist both norms: corpus-row norm would otherwise re-evaluate per
    # probe, probe norm per corpus row (bit-identical, see _cos_pre_sql)
    corpus = corpus.selectExpr("*", f"{_norm_sql('v')} AS __vn")
    probes = probes.selectExpr("*", f"{_norm_sql('qvd')} AS __qn")
    j = corpus.crossJoin(F.broadcast(probes))
    if exclude_self:
        j = j.filter(f"`{id_col}` != `{probe_id_col}`")
    return (
        j.selectExpr(
            probe_id_col, *carry, id_col,
            f"round({_cos_pre_sql('v', 'qvd', '__vn', '__qn')}, 4)"
            " AS cos_sim",
        )
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY `{probe_id_col}` "
            f"ORDER BY cos_sim DESC, `{id_col}`) AS rn",
        )
        .filter(f"rn <= {int(k)}")
        .drop("rn")
    )


def _brute_topk_arrow(
    corpus: DataFrame,
    probes: DataFrame,
    k: int,
    id_col: str,
    probe_id_col: str,
    exclude_self: bool,
    carry: tuple[str, ...],
) -> DataFrame:
    """Arrow/BLAS engine for :func:`_brute_topk` (see its docstring)."""
    import numpy as np

    kk = int(k)
    probe_cols = set(probes.columns)
    corpus_cols = set(corpus.columns)
    for c in carry:
        if c in probe_cols and c in corpus_cols:
            raise ValueError(f"carry column {c!r} exists on both sides")
        if c not in probe_cols and c not in corpus_cols:
            raise ValueError(f"carry column {c!r} on neither side")
    p_carry = [c for c in carry if c in probe_cols]
    c_carry = [c for c in carry if c in corpus_cols]

    prows = probes.select(probe_id_col, "qvd", *p_carry).collect()
    if not prows:
        raise ValueError("probes is empty")
    pids = np.asarray([r[probe_id_col] for r in prows])
    qm = np.asarray([r["qvd"] for r in prows], dtype=np.float64)  # P×d
    qns = np.sqrt((qm * qm).sum(axis=1))
    p_carry_vals = {c: [r[c] for r in prows] for c in p_carry}
    dim = qm.shape[1]

    from pyspark.sql.types import DoubleType, StructField, StructType

    c_schema = corpus.schema
    p_schema = probes.schema
    out_schema = StructType(
        [StructField(probe_id_col, p_schema[probe_id_col].dataType, True)]
        + [StructField(c, p_schema[c].dataType, True) for c in p_carry]
        + [StructField(c, c_schema[c].dataType, True) for c in c_carry]
        + [StructField(id_col, c_schema[id_col].dataType, True),
           StructField("cos_sim", DoubleType(), True)]
    )
    # the sql engine's column order is probe_id, *carry (caller
    # order), id, cos — restore it with a final select
    out_order = [probe_id_col, *carry, id_col, "cos_sim"]

    def _gemm_batches(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            idn = np.asarray(b.column(0).to_numpy(zero_copy_only=False))
            vecs = b.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            flat = vecs.flatten().to_numpy(zero_copy_only=False)
            if vecs.null_count == 0 and _uniform_lengths(vecs, dim):
                arr = flat.reshape(n, dim).astype(np.float64, copy=False)
            else:
                arr = np.array(
                    [np.asarray(v, dtype=np.float64)
                     if v is not None and len(v) == dim
                     else np.full(dim, np.nan)
                     for v in vecs.to_pylist()]
                )
            norms = np.sqrt((arr * arr).sum(axis=1))
            with np.errstate(divide="ignore", invalid="ignore"):
                raw = (arr @ qm.T) / (norms[:, None] * qns[None, :])
            cosm = np.sign(raw) * np.floor(np.abs(raw) * 1e4 + 0.5) / 1e4
            if exclude_self:
                self_mask = idn[:, None] == pids[None, :]
            rows_idx: list = []
            probe_idx: list = []
            cos_out: list = []
            for p in range(len(pids)):
                col = cosm[:, p]
                ok = np.isfinite(col)
                if exclude_self:
                    ok &= ~self_mask[:, p]
                scores = np.where(ok, col, -np.inf)
                n_ok = int(ok.sum())
                if n_ok > kk:
                    kth = np.partition(scores, n - kk)[n - kk]
                    cand = np.flatnonzero(scores >= kth)  # exact ties in
                else:
                    cand = np.flatnonzero(ok)
                rows_idx.extend(cand.tolist())
                probe_idx.extend([p] * len(cand))
                cos_out.extend(col[cand].tolist())
                if n_ok < kk:
                    # NULL cosines fill the window's LIMIT slots
                    # (DESC NULLS LAST, id ASC) on degenerate corpora
                    nul = ~np.isfinite(col)
                    if exclude_self:
                        nul &= ~self_mask[:, p]
                    nul_idx = np.flatnonzero(nul)
                    take = nul_idx[np.argsort(idn[nul_idx])][:kk - n_ok]
                    rows_idx.extend(take.tolist())
                    probe_idx.extend([p] * len(take))
                    cos_out.extend([None] * len(take))
            if not rows_idx:
                continue
            take_arr = pa.array(rows_idx, type=pa.int64())
            cols = [pa.array([pids[p] for p in probe_idx])]
            for c in p_carry:
                vals = p_carry_vals[c]
                cols.append(pa.array([vals[p] for p in probe_idx]))
            for i, c in enumerate(c_carry):
                cols.append(b.column(2 + i).take(take_arr))
            cols.append(b.column(0).take(take_arr))
            cols.append(pa.array(cos_out, type=pa.float64()))
            yield pa.record_batch(
                cols,
                names=[probe_id_col, *p_carry, *c_carry, id_col, "cos_sim"],
            )

    cand = corpus.select(id_col, "v", *c_carry).mapInArrow(
        _gemm_batches, out_schema
    )
    return (
        cand.selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY `{probe_id_col}` "
            f"ORDER BY cos_sim DESC, `{id_col}`) AS rn",
        )
        .filter(f"rn <= {kk}")
        .drop("rn")
        .select(*out_order)
    )


def cosine_batch_topk(
    emb: DataFrame,
    probes: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    engine: str = "sql",
) -> DataFrame:
    """Public multi-query brute-force cosine top-k → ``(q_id, vec_id,
    cos_sim, rk)`` with the per-query rank materialized — the ranked
    form retrieval compositions consume (:func:`~.text.rrf_fuse`
    hybrid fusion, eval harnesses). Thin wrapper over
    :func:`_brute_topk` (same determinism contract and engines); the
    rank window runs over ≤ k rows per query."""
    corpus = emb.selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v"
    )
    p = probes.selectExpr(
        f"`{q_id_col}`", f"cast(`{q_vec_col}` as array<double>) AS qvd"
    )
    out = _brute_topk(corpus, p, int(k), id_col, q_id_col, engine=engine)
    w = W.partitionBy(q_id_col).orderBy(F.desc("cos_sim"), F.asc(id_col))
    return out.withColumn("rk", F.row_number().over(w))


def knn_label_vote(
    corpus: DataFrame,
    probes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    probe_id_col: str = "q_id",
    probe_vec_col: str = "qv",
    probe_label_col: str = "true_label",
    engine: str = "sql",
) -> DataFrame:
    """kNN label probe — the standard embedding-quality evaluation for
    a training-data pipeline: predict each held-out probe's label by
    majority vote of its ``k`` nearest labeled corpus neighbors
    (cosine), then report per-class accuracy. A representation whose
    neighborhoods respect labels scores high; a collapsed or noisy
    embedding space scores at chance.

    Determinism: rounded similarity with id tiebreak picks the k
    neighbors; majority vote ties resolve to the SMALLEST label
    (min_by over (-votes, label) — struct ordering, so the tiebreak is
    type-agnostic and works for string labels too, where a negated
    label column would throw under ANSI mode).

    Scale: the probe set is broadcast by contract (an eval set is
    thousands of rows, not the corpus), so the scan side is the corpus
    exactly once — map-side cosine, one window per probe id over k×|P|
    candidate rows, two tiny aggregations after. Swap the brute-force
    candidate step for :func:`ivf_search` when the corpus no longer
    fits a full scan per evaluation.
    """
    c = corpus.select(
        F.col(id_col), _as_double(vec_col).alias("v"), F.col(label_col)
    )
    p = probes.select(
        F.col(probe_id_col),
        _as_double(probe_vec_col).alias("qvd"),
        F.col(probe_label_col),
    )
    neighbors = _brute_topk(
        c, p, k, id_col, probe_id_col,
        carry=(probe_label_col, label_col), engine=engine,
    )
    votes = neighbors.groupBy(probe_id_col, probe_label_col, label_col).agg(
        F.count(F.lit(1)).alias("votes")
    )
    pred = votes.groupBy(probe_id_col, probe_label_col).agg(
        F.min_by(
            F.col(label_col),
            F.struct((-F.col("votes")).alias("nv"), F.col(label_col)),
        ).alias("pred_label")
    )
    return (
        pred.groupBy(probe_label_col)
        .agg(
            F.count(F.lit(1)).alias("n_probes"),
            F.sum(
                F.when(F.col("pred_label") == F.col(probe_label_col), 1)
                .otherwise(0)
            ).alias("n_correct"),
        )
        .select(
            probe_label_col,
            "n_probes",
            "n_correct",
            F.round(F.col("n_correct") / F.col("n_probes"), 4).alias("accuracy"),
        )
        .orderBy(probe_label_col)
    )


def ivf_recall(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id_col: str = "q_id",
    query_vec_col: str = "qv",
    queries_in_corpus: bool = True,
    engine: str = "sql",
) -> DataFrame:
    """Recall@k of :func:`ivf_search` against the brute-force cosine
    ground truth — THE standard ANN quality metric: per query, the
    fraction of the true top-``k`` the probed search returned. A
    recall of 1 means the nprobe cells contained every true neighbor;
    the nprobe/n_cells knob trades this against scan cost.

    ``queries_in_corpus`` controls ground-truth self-exclusion: True
    (default) assumes each query IS a corpus member under the same id
    space and drops the corpus row whose ``id_col`` equals the query's
    ``query_id_col`` (matching :func:`ivf_search`'s serving behavior).
    Pass False when queries come from a SEPARATE id space — otherwise
    an accidental id collision across the two spaces would silently
    remove a true neighbor and deflate recall.

    Scale: the ground-truth side is one full corpus scan per
    evaluation (queries broadcast, map-side cosine + per-query top-k
    window) — an EVAL cost paid on a sample of queries, not a serving
    path. Output is one row per query: (q_id, n_true, n_found,
    recall)."""
    ivf = ivf_search(
        emb, centroids, queries, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
        query_id_col=query_id_col, query_vec_col=query_vec_col,
    ).select(query_id_col, id_col)

    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    q = queries.select(
        F.col(query_id_col), _as_double(query_vec_col).alias("qvd")
    )
    truth = _brute_topk(
        e, q, k, id_col, query_id_col, exclude_self=queries_in_corpus,
        engine=engine,
    ).select(query_id_col, id_col)
    hits = truth.join(ivf, [query_id_col, id_col], "left_semi")
    n_true = truth.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_true"))
    n_found = hits.groupBy(query_id_col).agg(F.count(F.lit(1)).alias("n_found"))
    return (
        n_true.join(n_found, query_id_col, "left")
        .select(
            query_id_col,
            "n_true",
            F.coalesce(F.col("n_found"), F.lit(0)).alias("n_found"),
            F.round(
                F.coalesce(F.col("n_found"), F.lit(0)) / F.col("n_true"), 4
            ).alias("recall"),
        )
        .orderBy(query_id_col)
    )


def cosine_pairs(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine ≥ threshold (d1 < d2). Quadratic — correctness
    baseline only; use LSH/IVF blocking beyond ~10⁴ vectors."""
    a = emb.select(F.col(id_col).alias("d1"), _as_double(vec_col).alias("va"))
    b = emb.select(F.col(id_col).alias("d2"), _as_double(vec_col).alias("vb"))
    sim = cosine_sim_expr(F.col("va"), F.col("vb"))
    return (
        a.crossJoin(b)
        .filter(F.col("d1") < F.col("d2"))
        .filter(sim >= threshold)
        .select("d1", "d2", F.round(sim, 4).alias("cos_sim"))
    )


def lsh_bucket_pairs(
    emb: DataFrame,
    hyperplanes: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    hp_id_col: str = "hp_id",
    hp_vec_col: str = "hv",
) -> DataFrame:
    """Random-hyperplane LSH near-dup pairs: bucket = sign bits of the
    vector against each hyperplane; exact cosine verified only within
    buckets.

    The sub-quadratic scale path for embedding near-dup detection
    (recall < 1 by construction — vectors split across a hyperplane are
    missed; more bands/fewer bits trade recall for cost).
    Scale: hyperplanes broadcast; bucketing is map-only; the self-join
    shuffles on the bucket signature, so cost ∝ Σ bucket², not n².
    Hyperplanes must be deterministic for oracle reproducibility —
    callers pass a fixed set (e.g. seed vectors), as a real pipeline
    would persist its trained hyperplanes.
    """
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    h = hyperplanes.select(F.col(hp_id_col), _as_double(hp_vec_col).alias("hvd"))
    bit = F.when(dot_expr(F.col("v"), F.col("hvd")) >= 0, "1").otherwise("0")
    buckets = (
        e.crossJoin(F.broadcast(h))
        .groupBy(id_col)
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct(F.col(hp_id_col), bit.alias("b")))
                    ),
                    lambda x: x["b"],
                ),
                "",
            ).alias("bucket"),
            F.first("v").alias("v"),
        )
    )
    a = buckets.select(F.col(id_col).alias("d1"), F.col("bucket"), F.col("v").alias("va"))
    b = buckets.select(F.col(id_col).alias("d2"), F.col("bucket"), F.col("v").alias("vb"))
    sim = cosine_sim_expr(F.col("va"), F.col("vb"))
    return (
        a.join(b, ["bucket"])
        .filter(F.col("d1") < F.col("d2"))
        .filter(sim >= threshold)
        .select("d1", "d2", F.round(sim, 4).alias("cos_sim"))
    )


def lsh_multiprobe_topk(
    emb: DataFrame,
    queries: DataFrame,
    hyperplanes: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    q_id_col: str = "q_id",
    q_vec_col: str = "qv",
    hp_id_col: str = "hp_id",
    hp_vec_col: str = "hv",
    flip_probes: bool = True,
) -> DataFrame:
    """Multi-probe LSH search (Lv et al. 2007) → ``(q_id, vec_id,
    cos_sim, rk)`` top-k per query: each query probes its OWN sign-bit
    bucket plus every 1-bit-flip neighbor, recovering most of the
    recall a vector lost by landing just across one hyperplane —
    WITHOUT the classic fix of maintaining more hash tables (each
    extra table re-hashes and re-stores the whole corpus; extra probes
    cost only (nbits+1)× more bucket lookups on the query side).
    ``flip_probes=False`` probes the exact bucket only — the classic
    single-probe LSH baseline the multi-probe recall win is measured
    against (bench recall row).

    Plan: corpus bucketing is the same broadcast-hyperplane map-only
    pass :func:`lsh_bucket_pairs` uses (one groupBy(id) to assemble
    bit strings); the query side — queries × (nbits+1) probe buckets —
    is driver-bounded and broadcast, so candidate generation is one
    hash join on the bucket string touching only probed buckets
    (corpus × (nbits+1)/2^nbits of the data in expectation), then an
    exact-cosine re-rank with a per-query WindowGroupLimit. No corpus
    self-join, no full scan of unprobed buckets.

    Probe buckets per query are DISTINCT (exact + nbits single flips),
    so no candidate dedup pass is needed. Deterministic: fixed
    hyperplanes (callers pass persisted ones), round(·,4) + id
    tiebreaks — the same total order the DuckDB oracle produces.
    """
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    h = hyperplanes.select(
        F.col(hp_id_col), _as_double(hp_vec_col).alias("hvd")
    )
    # Guard the degenerate nbits=0 input: with zero hyperplanes every
    # bucket is '' and sequence(1, 0) yields a DESCENDING [1, 0] whose
    # flip transform emits garbage probes — the query would silently
    # degrade to an accidental (and unindexed) brute-force pass. The
    # hyperplane frame is probe-table-sized by contract, so this
    # limit(1) pre-check is a trivial job.
    if not h.limit(1).count():
        raise ValueError(
            "lsh_multiprobe_topk requires >= 1 hyperplane; got an empty"
            " hyperplanes frame (use brute_topk for exact search)"
        )
    bit = F.when(dot_expr(F.col("v"), F.col("hvd")) >= 0, "1").otherwise("0")

    def _buckets(frame, idc):
        return (
            frame.crossJoin(F.broadcast(h))
            .groupBy(idc)
            .agg(
                F.array_join(
                    F.transform(
                        F.array_sort(
                            F.collect_list(
                                F.struct(F.col(hp_id_col), bit.alias("b"))
                            )
                        ),
                        lambda x: x["b"],
                    ),
                    "",
                ).alias("bucket"),
                F.first("v").alias("v"),
            )
        )

    cb = _buckets(e, id_col)
    q = queries.select(
        F.col(q_id_col), _as_double(q_vec_col).alias("v")
    )
    qb = _buckets(q, q_id_col).withColumnRenamed("v", "qv")
    # exact bucket + every 1-bit flip — all distinct by construction
    # (or the exact bucket alone for the single-probe baseline)
    probe_expr = (
        "explode(concat(array(bucket),"
        " transform(sequence(1, length(bucket)),"
        " p -> concat(substring(bucket, 1, p - 1),"
        " CASE substring(bucket, p, 1) WHEN '1' THEN '0' ELSE '1' END,"
        " substring(bucket, p + 1))))) AS probe"
        if flip_probes else "bucket AS probe"
    )
    probes = qb.selectExpr(q_id_col, "qv", probe_expr).selectExpr(
        q_id_col, "qv", f"{_norm_sql('qv')} AS qn", "probe"
    )
    cand = cb.join(
        F.broadcast(probes), cb["bucket"] == probes["probe"]
    )
    cos = _cos_pre_sql("v", "qv", _norm_sql("v"), "qn")
    scored = cand.selectExpr(
        q_id_col, id_col, f"round({cos}, 4) AS cos_sim"
    )
    w = W.partitionBy(q_id_col).orderBy(
        F.desc("cos_sim"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= int(k))
        .select(q_id_col, id_col, "cos_sim", "rk")
    )


def kmeans_pp_init(
    emb: DataFrame,
    k: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    metric: str = "cosine",
) -> list[list[float]]:
    """Deterministic k-means++-style seeding: greedy farthest-point
    (Gonzalez k-center) in cosine distance.

    Classic k-means++ samples each next center ∝ D(x)²; this repo
    trades the randomness for the deterministic limit of that rule —
    always take the point FARTHEST from its nearest chosen center —
    keeping the spread property (2-approximation for k-center cover)
    while staying exactly reproducible across runs and engines.

    Scale shape (the reason this is not a driver loop over collected
    vectors): one pass per round, zero shuffles —

    1. keep a running ``d2`` = distance to the nearest chosen center,
       updated incrementally with ``least(d2, dist(v, newest))`` — one
       O(dims) codegen'd cosine per row per round, NOT a recompute
       against all chosen centers;
    2. the next center is ``max(struct(d2, id, v))`` — a global
       aggregate whose partial step reduces every partition to one
       candidate row, so the "reduce" moves n_partitions rows;
    3. lineage is truncated every 8 rounds (localCheckpoint) so the
       incremental column never builds an O(k)-deep plan.

    Returns driver-side centers (k × dims doubles — tiny by the same
    contract as :func:`kmeans_fit`), ordered by selection round.
    """
    dist_to = _cos_dist_to if metric == "cosine" else _l2_dist_to
    e = emb.select(F.col(id_col).alias("_id"), _as_double(vec_col).alias("v"))
    first = e.orderBy("_id").limit(1).collect()[0]["v"]
    centers: list[list[float]] = [list(first)]
    # d2 vs the first center; distance rounded like ivf_assign so ties
    # resolve identically everywhere (id tiebreak below).
    cur = e.select(
        "_id", "v", dist_to(F.array(*[F.lit(x) for x in first])).alias("d2")
    )
    for i in range(1, k):
        far = cur.agg(F.max(F.struct("d2", "_id", "v")).alias("far")).collect()[0][
            "far"
        ]
        nxt = list(far["v"])
        centers.append(nxt)
        cur = cur.select(
            "_id",
            "v",
            F.least(
                "d2", dist_to(F.array(*[F.lit(x) for x in nxt]))
            ).alias("d2"),
        )
        if i % 8 == 0:
            cur = cur.localCheckpoint(eager=False)
    return centers


def _cos_dist_to(center: Column) -> Column:
    """Rounded cosine distance from the row vector ``v`` to a center."""
    return F.round(1.0 - cosine_sim_expr(F.col("v"), center), 4)


def _l2_dist_to(center: Column) -> Column:
    """Rounded squared-L2 distance from ``v`` to a center (PQ metric —
    defined for zero vectors, which cosine is not)."""
    return F.round(sqdist_expr(F.col("v"), center), 6)


def kmeans_fit(
    emb: DataFrame,
    k: int,
    max_iter: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "first-k",
    metric: str = "cosine",
) -> DataFrame:
    """Train IVF centroids with Lloyd's k-means over DataFrames →
    (centroid_id, cv array<double>). The missing third of the ANN
    story: fit (here) → assign (:func:`ivf_assign`) → search
    (:func:`ivf_search`).

    Initialization (``init``) is deterministic either way:
    ``"first-k"`` seeds with the first ``k`` vectors by id (cheapest,
    order-biased); ``"farthest"`` runs :func:`kmeans_pp_init`
    (k-means++-style greedy spread — better-separated seeds, fewer
    Lloyd's rounds to converge, still reproducible). Each iteration:

    1. assignment: broadcast centroids, map-side nearest-centroid
       (one pass over the corpus, no shuffle of the big side);
    2. update: posexplode vectors → groupBy (centroid, dim) mean —
       ONE shuffle keyed on (centroid, dim), uniform by construction;
    3. centroids collect to the driver (k × dims doubles — tiny by
       contract) for the next broadcast.

    Iterative fixpoint with driver-held centroids is the canonical
    distributed k-means shape (same as MLlib's); per-iteration work is
    fully distributed and lineage does not grow (each round reads the
    same cached corpus).

    Assignment uses cosine (matching the ANN operators) with plain
    mean updates — spherical k-means without the normalization step,
    which is equivalent for assignment because cosine is
    scale-invariant in the centroid.
    """
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v"))
    if init == "farthest":
        centroids = [
            (i, c)
            for i, c in enumerate(
                kmeans_pp_init(emb, k, id_col, vec_col, metric=metric)
            )
        ]
    elif init == "first-k":
        seed = e.orderBy(id_col).limit(k).collect()
        centroids = [(i, list(r["v"])) for i, r in enumerate(seed)]
    else:
        raise ValueError(f"unknown init: {init!r}")
    dims = len(centroids[0][1])
    for _ in range(max_iter):
        cdf = e.sparkSession.createDataFrame(
            centroids, "centroid_id int, cv array<double>"
        )
        if metric == "cosine":
            assigned = ivf_assign(e, cdf, id_col=id_col, vec_col="v")
        else:
            assigned = _l2_assign(e, cdf, id_col=id_col, vec_col="v")
        new = (
            e.join(assigned.select(id_col, "centroid_id"), id_col)
            .select("centroid_id", F.posexplode("v").alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg("x").alias("m"))
            .groupBy("centroid_id")
            .agg(F.array_sort(F.collect_list(F.struct("pos", "m"))).alias("pm"))
            .select(
                "centroid_id",
                F.expr("transform(pm, p -> p.m)").alias("cv"),
            )
            .collect()
        )
        updated = {r["centroid_id"]: list(r["cv"]) for r in new}
        # empty cells keep their previous centroid (standard Lloyd's)
        next_centroids = [
            (cid, updated.get(cid, cvec)) for cid, cvec in centroids
        ]
        if all(
            abs(a - b) < 1e-9
            for (_, ca), (_, cb) in zip(centroids, next_centroids)
            for a, b in zip(ca, cb)
        ):
            centroids = next_centroids
            break
        centroids = next_centroids
    assert all(len(c) == dims for _, c in centroids)
    return e.sparkSession.createDataFrame(
        centroids, "centroid_id int, cv array<double>"
    )


def kmeans_step(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    round_decimals: int = 6,
) -> DataFrame:
    """ONE deterministic Lloyd refinement → ``(centroid_id, pos, v)``
    long-form updated centroids.

    The distributable unit of k-means training, exposed on its own:
    :func:`kmeans_fit` is this step iterated with driver-held
    centroids; with FROZEN seed centroids the single step is pure
    deterministic scalar arithmetic that any engine replays — which is
    what makes the registered ``similarity_kmeans_fit`` query
    oracle-checkable (the DuckDB oracle runs this step verbatim),
    where a free-running fit's float fixpoint is not.

    Plan: assignment is :func:`ivf_assign`'s broadcast-centroid
    rounded-cosine argmax, but the vector rides INSIDE the max-struct
    (``max(struct(cos, -cid, cid, v))``) so no corpus self-join is
    needed to recover it; the update is a per-(centroid, dim)
    ``DECIMAL(20,10)`` sum mean (partial-aggregation-order-exact — the
    ``embedding_centroids`` trick) rounded to ``round_decimals``.
    Two shuffles total: the per-vector argmax partial-agg and the
    (centroid, dim) mean — both uniform keys. Empty cells emit no rows
    (standard Lloyd keeps the previous centroid; iterating callers
    handle that).
    """
    e = emb.selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v"
    ).filter("v IS NOT NULL").selectExpr(
        "*", f"{_norm_sql('v')} AS __vn"
    )
    c = centroids.selectExpr(
        f"`{centroid_id_col}`",
        f"cast(`{centroid_vec_col}` as array<double>) AS cvd",
    ).selectExpr("*", f"{_norm_sql('cvd')} AS __cn")
    assigned = (
        e.crossJoin(F.broadcast(c))
        .selectExpr(
            id_col,
            centroid_id_col,
            f"round({_cos_pre_sql('v', 'cvd', '__vn', '__cn')}, 4)"
            " AS cos_sim",
            "v",
        )
        .groupBy(id_col)
        .agg(
            F.expr(
                f"max(struct(cos_sim, -`{centroid_id_col}` AS neg_cid, "
                f"`{centroid_id_col}`, v))"
            ).alias("best")
        )
        .selectExpr(
            f"best.`{centroid_id_col}` AS `{centroid_id_col}`",
            "best.v AS v",
        )
    )
    return (
        assigned.select(
            centroid_id_col, F.posexplode("v").alias("pos", "x")
        )
        .groupBy(centroid_id_col, "pos")
        .agg(
            F.round(
                F.sum(F.col("x").cast("decimal(20,10)")).cast("double")
                / F.count("*"),
                round_decimals,
            ).alias("v")
        )
    )


def ivf_search(
    emb: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
    query_id_col: str = "q_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Full IVF approximate-nearest-neighbor search: top-``k`` by
    cosine for each query vector, scanning only the ``nprobe`` nearest
    centroid cells instead of the whole corpus.

    Plan shape (the 100 TB path):
    - cell assignment is the broadcast map-only pass of
      :func:`ivf_assign`, with the vector carried through so the probe
      join doesn't re-fetch it;
    - query→cell probes are a broadcast cross join of (tiny) queries ×
      (tiny) centroids, ranked to ``nprobe`` rows per query;
    - the candidate join shuffles on ``centroid_id`` — each task scans
      one cell's vectors, so cost is |corpus| × nprobe / n_centroids,
      the IVF speedup;
    - final top-k is a rank window per query over candidates only.

    Ranking uses the ROUNDED similarity with an id tiebreak in both
    engines, so the selected k are deterministic under float noise.
    Recall < 1 by construction (a true neighbor in an unprobed cell is
    missed) — brute-force :func:`cosine_topk` is the recall oracle.
    """
    # Assembled with selectExpr/string filters, not Column chains: each
    # Column op is a py4j round trip + a JVM analyzer pass, and this
    # builder profiled at ~0.37 s/plan in Column form — the parsed
    # plans are identical (see minhash_band_signatures for the same
    # lesson).
    e = emb.selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v"
    )
    c = centroids.selectExpr(
        f"`{centroid_id_col}`",
        f"cast(`{centroid_vec_col}` as array<double>) AS cvd",
    )
    q = queries.selectExpr(
        f"`{query_id_col}`",
        f"cast(`{query_vec_col}` as array<double>) AS qvd",
    )

    # norms hoisted (bit-identical, see _cos_pre_sql): the vector norm
    # would otherwise re-evaluate once per CENTROID in the assign scan
    # and once per matched probe in the candidate scan; the centroid /
    # query norms once per scanned row.
    e = e.selectExpr("*", f"{_norm_sql('v')} AS __vn")
    c = c.selectExpr("*", f"{_norm_sql('cvd')} AS __cn")
    q = q.selectExpr("*", f"{_norm_sql('qvd')} AS __qn")
    # Cell assignment, round-10 default: per-row fold over the literal
    # centroid array (see ivf_assign) — the corpus keeps (v, __vn) in
    # place with ZERO shuffles and no K× fan-out; the former aggregate
    # form SORT-aggregated |corpus|×K rows each carrying the full
    # vector (max(struct)+first(array) buffers are immutable, so it
    # could not even hash-aggregate). Fallback to that aggregate when
    # the centroid frame is unsuitable for literal inlining.
    collected = _collect_vec_rows(centroids, centroid_id_col, centroid_vec_col)
    lit = (
        _centroid_fold_from_rows(*collected) if collected is not None
        else None
    )
    if lit is not None:
        cents_sql, cid_t = lit
        best = _fold_argmax_sql(cents_sql, cid_t, "__vn")
        assigned = e.selectExpr(
            id_col, f"({best}).cid AS `{centroid_id_col}`", "v", "__vn"
        )
        # Probe side inlined too when the workload allows (see
        # _probe_inline_sql): the queries×centroids cross join, its
        # rank window (one exchange + sort) and the probe broadcast
        # all vanish — the plan is corpus scan → fold-assign →
        # explode(try_element_at(literal map, cell)) → score → ONE
        # q_id-keyed rank window, zero joins of any kind. Interleaved
        # A/B at sf0.1 (min-of-7, plan build + count per iteration):
        # join path 0.911 s → inline 0.707 s; @200k replicated corpus
        # 2.01 → 1.77 s; values strict-parity green, plan pinned in
        # tests/test_plans.py.
        inl = _probe_inline_sql(
            queries, query_id_col, query_vec_col,
            collected[0], collected[1], nprobe,
        )
        if inl is not None:
            pm, _cells = inl
            cand = assigned.selectExpr(
                id_col, "v", "__vn",
                f"explode(try_element_at({pm}, `{centroid_id_col}`))"
                " AS __pr",
            )
            return (
                cand.filter(f"`{id_col}` != __pr.q")
                .selectExpr(
                    f"__pr.q AS `{query_id_col}`", id_col,
                    f"round(({_dot_sql('__pr.qvd', 'v')}"
                    " / (__pr.qn * __vn)), 4) AS cos_sim",
                )
                .selectExpr(
                    "*",
                    f"row_number() OVER (PARTITION BY `{query_id_col}` "
                    f"ORDER BY cos_sim DESC, `{id_col}`) AS rn",
                )
                .filter(f"rn <= {int(k)}")
                .selectExpr(query_id_col, id_col, "cos_sim")
            )
    else:
        assigned = (
            e.crossJoin(F.broadcast(c))
            .selectExpr(
                id_col, centroid_id_col,
                f"round({_cos_pre_sql('v', 'cvd', '__vn', '__cn')}, 4)"
                " AS s",
                "v", "__vn",
            )
            .groupBy(id_col)
            .agg(
                F.expr(
                    f"max(struct(s, -`{centroid_id_col}` AS neg_cid, "
                    f"`{centroid_id_col}`)).`{centroid_id_col}`"
                ).alias(centroid_id_col),
                F.expr("first(v)").alias("v"),
                F.expr("first(__vn)").alias("__vn"),
            )
        )

    # queries × centroids is tiny (|Q|·K rows): recomputing the probe
    # similarity inside the window ORDER BY costs nothing and saves a
    # projection step.
    probes = (
        q.crossJoin(F.broadcast(c))
        .selectExpr(
            query_id_col, "qvd", "__qn", centroid_id_col,
            f"row_number() OVER (PARTITION BY `{query_id_col}` "
            f"ORDER BY round({_cos_pre_sql('qvd', 'cvd', '__qn', '__cn')},"
            f" 4) DESC, `{centroid_id_col}`) AS rn",
        )
        .filter(f"rn <= {int(nprobe)}")
    )

    return (
        assigned.join(F.broadcast(probes), centroid_id_col)
        .filter(f"`{id_col}` != `{query_id_col}`")
        .selectExpr(
            query_id_col, id_col,
            f"round({_cos_pre_sql('qvd', 'v', '__qn', '__vn')}, 4)"
            " AS cos_sim",
        )
        .selectExpr(
            "*",
            f"row_number() OVER (PARTITION BY `{query_id_col}` "
            f"ORDER BY cos_sim DESC, `{id_col}`) AS rn",
        )
        .filter(f"rn <= {int(k)}")
        .selectExpr(query_id_col, id_col, "cos_sim")
    )


def ivf_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_id_col: str = "centroid_id",
    centroid_vec_col: str = "cv",
) -> DataFrame:
    """Assign each vector to its nearest centroid (max cosine).

    The IVF building block: centroids broadcast to every executor,
    assignment is one map-side pass — no shuffle of the big side.
    Rounded similarity + centroid-id tiebreak gives a deterministic
    argmax in both engines.

    Default plan (round 10): the centroids — driver-knowable by
    contract, they broadcast anyway — are collected at plan time and
    inlined as ONE literal array; the argmax is a per-row
    transform+fold over that array (:func:`_fold_argmax_sql`). ZERO
    corpus shuffles, zero fan-out: assignment is conceptually map-only
    and now physically map-only. Measured (sf0.1, and 10× replicated):
    2.6-3× faster than the aggregate form — the fold pays the same K
    interpreted HOF cosines per row the cross-join form paid, and
    nothing else (no K× row materialization, no sort, no exchange).
    At 100 TB this also removes the corpus-wide shuffle entirely.

    Fallback (``_centroid_fold_sql`` returns None — >1024 centroids,
    non-integral ids, non-finite components, empty frame): the
    MAX-of-struct aggregate over a broadcast cross join — all k
    candidate rows for a vector are partition-local, so partial
    aggregation reduces them to one row per vector *before* the
    exchange. Struct comparison is lexicographic: (cos_sim,
    -centroid_id) ⇒ highest similarity, lowest centroid id on rounded
    ties — the fold replicates exactly that ordering (null similarity
    ranked below all, min-cid tiebreak when all are null).

    Historical note: an earlier rejected "literal centroids" variant
    computed K similarities as SEPARATE projection columns and
    benched 3.5× slower; the single-fold form is not that shape.

    Contract: vector ids are unique (an index corpus). With duplicate
    ids the aggregate path keeps one arbitrary row per id while the
    fold keeps each row's own assignment.
    """
    e = emb.selectExpr(
        f"`{id_col}`", f"cast(`{vec_col}` as array<double>) AS v"
    ).selectExpr("*", f"{_norm_sql('v')} AS __vn")
    lit = _centroid_fold_sql(centroids, centroid_id_col, centroid_vec_col)
    if lit is not None:
        cents_sql, cid_t = lit
        best = _fold_argmax_sql(cents_sql, cid_t, "__vn")
        return e.selectExpr(id_col, f"{best} AS __b").selectExpr(
            id_col,
            f"__b.cid AS `{centroid_id_col}`",
            "__b.s AS cos_sim",
        )
    c = centroids.selectExpr(
        f"`{centroid_id_col}`",
        f"cast(`{centroid_vec_col}` as array<double>) AS cvd",
    ).selectExpr("*", f"{_norm_sql('cvd')} AS __cn")
    return (
        e.crossJoin(F.broadcast(c))
        .selectExpr(
            id_col, centroid_id_col,
            f"round({_cos_pre_sql('v', 'cvd', '__vn', '__cn')}, 4)"
            " AS cos_sim",
        )
        .groupBy(id_col)
        .agg(
            F.expr(
                f"max(struct(cos_sim, -`{centroid_id_col}` AS neg_cid, "
                f"`{centroid_id_col}`))"
            ).alias("best")
        )
        .selectExpr(
            id_col,
            f"best.`{centroid_id_col}` AS `{centroid_id_col}`",
            "best.cos_sim AS cos_sim",
        )
    )


# --------------------------------------------------------------------------
# Product quantization (PQ): the memory-bound ANN path
# --------------------------------------------------------------------------


def sqdist_expr(a: Column, b: Column) -> Column:
    """Σ (aᵢ−bᵢ)² via zip_with + aggregate — codegen'd, no UDF."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _l2_assign(
    emb: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "v",
) -> DataFrame:
    """Nearest centroid by squared L2 — :func:`ivf_assign`'s plan
    (broadcast cross join, MAX-of-struct argmin) with the metric PQ
    needs (defined on zero vectors; rounded + id-tiebroken so the
    argmin is deterministic)."""
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("__v"))
    c = centroids.select("centroid_id", _as_double("cv").alias("__cv"))
    d2 = F.round(sqdist_expr(F.col("__v"), F.col("__cv")), 6)
    return (
        e.crossJoin(F.broadcast(c))
        .select(id_col, "centroid_id", d2.alias("d2"))
        .groupBy(id_col)
        .agg(
            F.max(
                F.struct(
                    (-F.col("d2")).alias("neg_d2"),
                    (-F.col("centroid_id")).alias("neg_cid"),
                    F.col("centroid_id"),
                )
            ).alias("best")
        )
        .select(id_col, F.col("best.centroid_id").alias("centroid_id"))
    )


def pq_fit(
    emb: DataFrame,
    m: int = 2,
    k: int = 16,
    dims: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_iter: int = 5,
) -> DataFrame:
    """Train PQ codebooks: split vectors into ``m`` contiguous
    subspaces, k-means each → (subspace, centroid_id, cv).

    PQ completes the ANN triad (IVF partitions the corpus, LSH buckets
    it, PQ COMPRESSES it): each vector becomes ``m`` one-byte-ish
    codes, so a billion-vector index fits in memory where raw floats
    cannot — the standard recipe (IVF-PQ) composes both. Training
    reuses :func:`kmeans_fit` per subspace on sliced vectors
    (farthest-point seeding), so each subspace's rounds follow the
    same one-shuffle-per-iteration plan.
    """
    if dims is None:
        dims = len(emb.select(_as_double(vec_col).alias("v")).first()["v"])
    assert dims % m == 0, f"dims {dims} not divisible by m={m}"
    sub = dims // m
    books = []
    for s in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(_as_double(vec_col), s * sub + 1, sub).alias("subv"),
        )
        cb = kmeans_fit(
            sliced, k=k, max_iter=max_iter, id_col=id_col, vec_col="subv",
            init="farthest", metric="l2",
        )
        books.append(cb.select(F.lit(s).alias("subspace"), "centroid_id", "cv"))
    out = books[0]
    for b in books[1:]:
        out = out.unionByName(b)
    return out


def pq_encode(
    emb: DataFrame,
    codebooks: DataFrame,
    m: int,
    dims: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors → long-form codes (vec_id, subspace, code).

    One map-side pass per subspace (broadcast codebook, argmin L2 over
    k candidates — same MAX-of-struct partial-agg shape as
    :func:`ivf_assign`); the union keeps codes long-form, which is
    exactly what the ADC join in :func:`pq_search` wants (wide-form
    arrays would need re-explosion there).
    """
    sub = dims // m
    parts = []
    for s in range(m):
        sliced = emb.select(
            F.col(id_col),
            F.slice(_as_double(vec_col), s * sub + 1, sub).alias("v"),
        )
        cb = codebooks.filter(F.col("subspace") == s).select("centroid_id", "cv")
        best = _l2_assign(sliced, cb, id_col=id_col, vec_col="v").select(
            id_col,
            F.lit(s).alias("subspace"),
            F.col("centroid_id").alias("code"),
        )
        parts.append(best)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def pq_search(
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    dims: int,
    k: int = 5,
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """Asymmetric-distance (ADC) top-``k``: approximate L2 between each
    query and every ENCODED vector without touching raw vectors.

    The PQ trick made a Spark plan: the per-query lookup table
    (|queries| × m × k partial squared distances, query-sub vs
    codebook entry) is tiny and BROADCASTS; the big codes table joins
    it map-side on (subspace, code), and the approximate distance is
    a plain SUM over each vector's m partials — one shuffle keyed
    (q_id, vec_id), partial-aggregated. Ranking is the WindowGroupLimit
    top-k. Raw vectors never move; the corpus-side payload is m small
    ints per vector.
    """
    sub = dims // m
    q = queries.select(
        F.col(query_id_col), _as_double(query_vec_col).alias("qv")
    )
    subq = q.select(
        query_id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice("qv", s * sub + 1, sub).alias("sq"),
                )
                for s in range(m)
            ])
        ).alias("p"),
    ).select(query_id_col, "p.subspace", "p.sq")
    lut = (
        subq.join(F.broadcast(codebooks), "subspace")
        .select(
            query_id_col,
            "subspace",
            F.col("centroid_id").alias("code"),
            F.round(sqdist_expr(F.col("sq"), F.col("cv")), 6).alias("partial"),
        )
    )
    scored = (
        codes.join(F.broadcast(lut), ["subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("partial"), 6).alias("adc_dist"))
    )
    w = W.partitionBy(query_id_col).orderBy(
        F.asc("adc_dist"), F.asc(id_col)
    )
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "adc_dist", "rk")
    )


def ivfpq_search(
    emb: DataFrame,
    coarse_centroids: DataFrame,
    codes: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    m: int,
    dims: int,
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    query_id_col: str = "q_id",
    query_vec_col: str = "qv",
) -> DataFrame:
    """IVF-PQ: coarse cells bound WHICH vectors are scored, PQ codes
    bound WHAT is read per vector — the composition behind
    billion-scale ANN indexes (e.g. the classic IVFADC layout).

    Plan: vectors carry a coarse cell (one broadcast argmax pass,
    :func:`ivf_assign`); each query picks its ``nprobe`` nearest cells
    (tiny broadcast cross join); the ADC scoring of :func:`pq_search`
    then runs with an extra equi-join key — (cell ∈ probed cells) —
    so the codes table is filtered map-side to candidate cells before
    any distance math. Raw vectors are touched only by the offline
    assign/encode passes, never at query time.

    Simplification vs the literature: codes quantize the raw vectors,
    not the cell residuals — residual encoding needs per-cell
    codebooks (m × k × |cells| floats) and buys precision, not a
    different plan shape; the join/broadcast structure is identical.
    """
    sub = dims // m
    cells = ivf_assign(emb, coarse_centroids, id_col=id_col).select(
        id_col, F.col("centroid_id").alias("cell")
    )
    coded = codes.join(cells, id_col)

    q = queries.select(
        F.col(query_id_col), _as_double(query_vec_col).alias("qv")
    )
    c = coarse_centroids.select(
        F.col("centroid_id").alias("cell"), _as_double("cv").alias("ccv")
    )
    cell_sim = F.round(cosine_sim_expr(F.col("qv"), F.col("ccv")), 4)
    wq = W.partitionBy(query_id_col).orderBy(
        F.desc("cell_sim"), F.asc("cell")
    )
    probed = (
        q.crossJoin(F.broadcast(c))
        .select(query_id_col, "cell", cell_sim.alias("cell_sim"))
        .withColumn("prk", F.row_number().over(wq))
        .filter(F.col("prk") <= nprobe)
        .select(query_id_col, "cell")
    )

    subq = q.select(
        query_id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(s).alias("subspace"),
                    F.slice("qv", s * sub + 1, sub).alias("sq"),
                )
                for s in range(m)
            ])
        ).alias("p"),
    ).select(query_id_col, "p.subspace", "p.sq")
    lut = subq.join(F.broadcast(codebooks), "subspace").select(
        query_id_col,
        "subspace",
        F.col("centroid_id").alias("code"),
        F.round(sqdist_expr(F.col("sq"), F.col("cv")), 6).alias("partial"),
    )
    # candidate filter (query × cell) and LUT both broadcast — the big
    # codes table is filtered and scored without shuffling until the
    # final per-(query, vector) sum
    scored = (
        coded.join(F.broadcast(probed), "cell")
        .join(F.broadcast(lut), [query_id_col, "subspace", "code"])
        .groupBy(query_id_col, id_col)
        .agg(F.round(F.sum("partial"), 6).alias("adc_dist"))
    )
    w = W.partitionBy(query_id_col).orderBy(F.asc("adc_dist"), F.asc(id_col))
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(query_id_col, id_col, "adc_dist", "rk")
    )


# --------------------------------------------------------------------------
# Semantic deduplication (SemDeDup): cluster-scoped near-dup pruning
# --------------------------------------------------------------------------


def covariance_state(emb: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """Mergeable covariance MOMENT STATE → long-form ``(i, j, v)``:
    ``(0, dim)`` holds n (the count marker is keyed by the producing
    task's dim — see the in-function comment), ``(i,0)`` holds Σxᵢ,
    ``(i,j)`` (both ≥ 1) holds Σxᵢxⱼ — dim² + dim + 1 rows total, one
    uniform schema that persists as a tiny table.

    ONE corpus pass: each task folds its Arrow batches with one BLAS
    gemm per batch into a (n, Σx, ΣxxT) accumulator — dim + dim²
    doubles regardless of input size (the sketch shape) — and emits it
    already in long form; a single groupBy(i, j) merges the per-task
    rows (map-side combined: ≤ dim²+dim+1 rows per task reach the
    shuffle). There is exactly one mapInArrow subtree, so no consumer
    ever re-scans the corpus.

    Contract: NULL vectors are skipped; a vector whose LENGTH differs
    from the others, or containing NULL elements, raises (checked per
    batch via Arrow value_lengths / element null counts — a silently
    reshaped ragged batch or a NaN-poisoned sum never escapes).

    This is the O(delta) maintenance path for PCA over a growing
    corpus (the incremental-aggregate pattern of
    ``engine/incr_agg.py``, applied to second moments): moments are
    plain sums, so states MERGE by union + re-sum —
    ``covariance_from_state(stored.unionByName(covariance_state(
    delta)))`` refreshes the model reading only the delta and the
    O(dim²) state, never rescanning history. Disjoint-batch contract
    as in incr_agg (each row contributes to exactly one state).
    """
    import numpy as np

    def _partials(batches):
        import pyarrow as pa
        import pyarrow.compute as pc

        n = 0
        s = None
        ss = None
        for b in batches:
            if b.num_rows == 0:
                continue
            vecs = b.column(0)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            if vecs.null_count:
                vecs = vecs.drop_null()
            rows = len(vecs)
            if rows == 0:
                continue
            lens = pc.min_max(pc.list_value_length(vecs))
            lo, hi = lens["min"].as_py(), lens["max"].as_py()
            dim = s.size if s is not None else lo
            if lo != hi or lo != dim:
                raise ValueError(
                    f"ragged {vec_col}: lengths {lo}..{hi}, expected {dim}"
                )
            flat_arrow = vecs.flatten()
            if flat_arrow.null_count:
                raise ValueError(
                    f"{vec_col} contains NULL elements inside vectors"
                )
            flat = flat_arrow.to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            arr = flat.reshape(rows, dim)
            n += rows
            if s is None:
                s = arr.sum(axis=0)
                ss = arr.T @ arr
            else:
                s += arr.sum(axis=0)
                ss += arr.T @ arr
        if n:
            d = s.size
            ii = np.repeat(np.arange(1, d + 1), d)
            jj = np.tile(np.arange(1, d + 1), d)
            # count marker keyed by the TASK'S dim — (0, d, n), not
            # (0, 0, n): two tasks (or two incremental deltas) that
            # each saw internally-consistent but DIFFERENT dims merge
            # into two distinct (0, d) rows, which the state consumers
            # reject — cross-task raggedness a per-batch check cannot
            # see is caught at derivation instead of corrupting sums
            i_out = np.concatenate([ii, np.arange(1, d + 1), [0]])
            j_out = np.concatenate([jj, np.zeros(d, dtype=np.int64), [d]])
            v_out = np.concatenate([ss.reshape(-1), s, [float(n)]])
            yield pa.record_batch(
                [
                    pa.array(i_out.astype(np.int32)),
                    pa.array(j_out.astype(np.int32)),
                    pa.array(v_out),
                ],
                names=["i", "j", "v"],
            )

    partials = (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.col(vec_col))
        .mapInArrow(_partials, "i int, j int, v double")
    )
    return partials.groupBy("i", "j").agg(F.sum("v").alias("v"))


def covariance_matrix(
    emb: DataFrame,
    vec_col: str = "embedding",
    ddof: int = 1,
    round_to: int | None = 4,
) -> DataFrame:
    """Sample covariance of the embedding columns → ``(i, j, cov)``,
    1-based indices — the distributed heavy half of PCA/whitening
    (:func:`pca_fit` eigendecomposes it on the driver).

    Plan: :func:`covariance_state` (ONE corpus pass: gemm partials in
    long form, one map-side-combined groupBy — shuffle volume
    O(tasks · dim²), never data-proportional), then
    :func:`covariance_from_state` derives
    cov = (ΣxxT − ΣxΣxᵀ/n)/(n−ddof) in a single one-group pandas
    finisher over the dim²-row state — exactly ONE consumer of the
    aggregate, so the corpus pass and the gemms run once per action
    (pinned by pytest; a join-based assembly measured 3× the arrow
    work because the marker-row filters pushed below the aggregate and
    split the exchange into three non-reusable subtrees).

    ``round_to`` exists for the cross-engine oracle (float sums
    associate differently across engines); pass ``None`` for full
    precision (what :func:`pca_fit` uses). For an INCREMENTALLY
    maintained covariance over a growing corpus, persist
    :func:`covariance_state` and refresh per delta instead of calling
    this over the whole history.
    """
    return covariance_from_state(
        covariance_state(emb, vec_col), ddof=ddof, round_to=round_to
    )


def _finish_cov(state_grouped: DataFrame, ddof: int,
                round_to: int | None) -> DataFrame:
    """(i, j, cov) from the AGGREGATED moment state, as ONE one-group
    applyInPandas task over ≤ dim²+dim+1 rows. A single consumer of
    the aggregate keeps the corpus pass unique in the plan (marker-row
    filters on three join branches push below the aggregate and split
    the exchange — measured 3× the arrow work). The scalar arithmetic
    — (ssv − sᵢ·sⱼ/n)/(n−ddof), decimal HALF_UP round, −0.0
    normalization — is op-for-op the SQL expression the DuckDB oracle
    runs, so the value hash is unchanged. n ≤ ddof yields NULL cov
    (the SQL division-by-zero semantics)."""
    dd = int(ddof)
    rt = None if round_to is None else int(round_to)

    def _finish(pdf):
        import numpy as np
        import pandas as pd

        if pdf.empty:
            return pd.DataFrame({"i": [], "j": [], "cov": []})
        nrows = pdf[pdf["i"] == 0]
        if len(nrows) > 1:
            raise ValueError(
                "covariance state mixes dims "
                f"{sorted(nrows['j'].tolist())} — ragged input"
            )
        n = float(nrows["v"].sum())
        s = pdf[(pdf["i"] > 0) & (pdf["j"] == 0)].set_index("i")["v"]
        m = pdf[(pdf["i"] > 0) & (pdf["j"] > 0)]
        if m.empty or n <= 0:
            return pd.DataFrame({"i": [], "j": [], "cov": []})
        si = m["i"].map(s).to_numpy(dtype=np.float64)
        sj = m["j"].map(s).to_numpy(dtype=np.float64)
        ssv = m["v"].to_numpy(dtype=np.float64)
        denom = n - dd
        if denom == 0:
            cov = np.full(len(m), np.nan)
        else:
            cov = (ssv - si * sj / n) / denom
            if rt is not None:
                # Spark/DuckDB round() is decimal HALF_UP; + 0.0
                # normalizes IEEE -0.0
                p = 10.0 ** rt
                cov = np.sign(cov) * np.floor(np.abs(cov) * p + 0.5) / p
                cov = cov + 0.0
        out = pd.DataFrame(
            {"i": m["i"].to_numpy(), "j": m["j"].to_numpy(), "cov": cov}
        )
        out["cov"] = out["cov"].where(np.isfinite(out["cov"]), None)
        return out

    return (
        state_grouped.groupBy(F.lit(1).alias("__g"))
        .applyInPandas(
            lambda pdf: _finish(pdf), "i int, j int, cov double"
        )
    )


def covariance_from_state(
    state: DataFrame,
    ddof: int = 1,
    round_to: int | None = 4,
) -> DataFrame:
    """Covariance ``(i, j, cov)`` from one or more unioned
    :func:`covariance_state` frames. The leading groupBy re-sums, so
    passing ``stored.unionByName(delta_state)`` IS the merge — cost is
    O(state rows) = O(dim²), corpus-size-independent; the derivation
    is one one-group pandas task (see :func:`_finish_cov` for why a
    join assembly is avoided)."""
    st = state.groupBy("i", "j").agg(F.sum("v").alias("v"))
    return _finish_cov(st, ddof, round_to)


def pca_fit(
    emb: DataFrame,
    k: int,
    vec_col: str = "embedding",
) -> DataFrame:
    """PCA model over the embedding column → one ``component`` row per
    principal axis (1..k: ``eigenvalue`` + unit ``loading`` vector)
    plus the ``component = 0`` row holding the column means (NULL
    eigenvalue) — a self-contained model table
    (:func:`pca_transform` consumes it), mirroring how
    :func:`kmeans_fit` ships centroids.

    The corpus never leaves the cluster: ONE :func:`covariance_state`
    pass reduces it to dim² + dim + 1 moment rows, and only that state
    is collected — the covariance AND the means derive from it
    driver-side (full precision; the formula is the same
    (ΣxxT − ΣxΣxᵀ/n)/(n−1) :func:`covariance_from_state` runs), so
    driver state and eigendecomposition cost are O(dim²)/O(dim³),
    corpus-size-independent (dim is 64-4096 in practice; numpy eigh on
    ≤4096² is sub-minute). Deterministic: eigh of a fixed matrix,
    descending eigenvalue order with index tiebreak, and each
    loading's sign is fixed so its largest-magnitude coordinate
    (lowest index on ties) is positive — reproducible model artifacts
    for training-data lineage.
    """
    import numpy as np

    if k < 1:
        raise ValueError("k must be >= 1")
    rows = covariance_state(emb, vec_col).collect()
    if not rows:
        raise ValueError("no vectors to fit")
    markers = [r for r in rows if r["i"] == 0]
    if len(markers) != 1:
        raise ValueError(
            "covariance state mixes dims "
            f"{sorted(r['j'] for r in markers)} — ragged input"
        )
    dim = markers[0]["j"]
    n = markers[0]["v"] or 0.0
    s = np.zeros(dim)
    ss = np.zeros((dim, dim))
    for r in rows:
        if r["i"] == 0:
            continue
        elif r["j"] == 0:
            s[r["i"] - 1] = r["v"]
        else:
            ss[r["i"] - 1, r["j"] - 1] = r["v"]
    if n < 2:
        raise ValueError(
            f"pca_fit needs >= 2 non-null vectors, got {int(n)}"
        )
    mu = s / n
    cov = (ss - np.outer(s, s) / n) / (n - 1)
    evals, evecs = np.linalg.eigh(cov)
    order = np.argsort(-evals, kind="stable")[: int(k)]
    out = [(0, None, mu.tolist())]
    for rank, idx in enumerate(order, start=1):
        v = evecs[:, idx]
        pivot = int(np.argmax(np.abs(v)))
        if v[pivot] < 0:
            v = -v
        out.append((rank, float(evals[idx]), v.tolist()))
    return emb.sparkSession.createDataFrame(
        out, "component int, eigenvalue double, loading array<double>"
    )


def pca_transform(
    emb: DataFrame,
    model: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    whiten: bool = False,
    round_to: int | None = 4,
) -> DataFrame:
    """Project embeddings onto a :func:`pca_fit` model → ``(id,
    proj array<double>)`` (k entries, component order). ``whiten=True``
    scales each coordinate by 1/√eigenvalue — unit-covariance output,
    the preconditioning step retrieval/clustering pipelines run before
    cosine/L2 so no axis dominates.

    Map-only: the k×dim model is driver-materialized (same bound as
    broadcast centroids) and closed over; each Arrow batch is one
    BLAS gemm (X − μ) @ Vᵀ. No shuffle, no corpus collect.
    """
    import numpy as np

    rows = model.collect()
    mu = None
    comps: list[tuple[int, float | None, list[float]]] = []
    for r in rows:
        if r["component"] == 0:
            mu = np.asarray(r["loading"], dtype=np.float64)
        else:
            comps.append((r["component"], r["eigenvalue"], r["loading"]))
    if mu is None or not comps:
        raise ValueError("model must hold component 0 (mean) and >= 1 axis")
    comps.sort()
    V = np.asarray([c[2] for c in comps], dtype=np.float64)
    if whiten:
        scale = np.asarray(
            [1.0 / np.sqrt(c[1]) if c[1] and c[1] > 0 else 0.0
             for c in comps]
        )
        V = V * scale[:, None]
    dim = mu.size
    id_field = emb.schema[id_col]

    def _project(batches):
        import pyarrow as pa

        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            ids = b.column(0)
            vecs = b.column(1)
            if isinstance(vecs, pa.ChunkedArray):
                vecs = vecs.combine_chunks()
            flat = vecs.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64, copy=False
            )
            if vecs.null_count or not _uniform_lengths(vecs, dim):
                raise ValueError("null or ragged vectors in pca_transform")
            proj = (flat.reshape(n, dim) - mu) @ V.T
            if round_to is not None:
                # Spark/DuckDB round() is decimal HALF_UP (away from
                # zero), NOT np.round's banker's HALF_EVEN — emulate it
                # like _finish_cov so the surface stays oracle-pinnable;
                # + 0.0 normalizes IEEE -0.0 for value-hash stability.
                p = 10.0 ** int(round_to)
                proj = np.sign(proj) * np.floor(np.abs(proj) * p + 0.5) / p
                proj = proj + 0.0
            yield pa.record_batch(
                [ids, pa.array(proj.tolist())], names=[id_col, "proj"]
            )

    from pyspark.sql.types import ArrayType, DoubleType, StructField, StructType

    return (
        emb.filter(F.col(vec_col).isNotNull())
        .select(F.col(id_col), F.col(vec_col))
        .mapInArrow(
            _project,
            StructType(
                [
                    StructField(id_col, id_field.dataType, id_field.nullable),
                    StructField("proj", ArrayType(DoubleType()), False),
                ]
            ),
        )
    )


def semantic_dedup(
    emb: DataFrame,
    k: int = 8,
    threshold: float = 0.9,
    max_iter: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): k-means-cluster the embedding
    space, then compare pairs ONLY within a cluster and drop the
    higher-id member of every pair with cosine >= threshold →
    (vec_id, centroid_id, keep).

    The point vs plain pairwise dedup: cluster blocking turns the n²
    all-pairs comparison into sum-over-clusters (n/k)² while keeping
    near-identical vectors comparable — semantically close vectors land
    in the same cell by construction. Exactly the IVF idea applied to
    dedup instead of search.

    Plan shape: fit is iterative (broadcast centroids, one (centroid,
    dim) shuffle per round — :func:`kmeans_fit`); assignment is one
    map-side pass (:func:`ivf_assign`); the in-cluster self-join
    shuffles on centroid_id, so cost ∝ Σ cluster². A skewed cluster is
    the known failure mode at corpus scale — raise k (clusters should
    hold ~10³-10⁴ vectors, SemDeDup uses k=50000 for LAION) or re-split
    oversized cells with a second kmeans level.

    Deterministic end-to-end (greedy farthest-point seeding + fixed
    rounds + id tiebreaks), so drop decisions are reproducible across
    runs — required for training-data lineage.

    ``centroids`` (a ``(centroid_id, cv)`` frame) skips the iterative
    fit and clusters against the provided centers — the frozen-seed
    path that makes the registered ``dedup_semantic_clusters`` query
    SQL-oracle-replayable (assignment + in-cluster pair dedup are
    rounded deterministic arithmetic once the centers are pinned;
    production pipelines likewise dedup against a PERSISTED trained
    codebook rather than refitting per run).
    """
    cent = centroids if centroids is not None else kmeans_fit(
        emb, k=k, max_iter=max_iter, id_col=id_col, vec_col=vec_col,
        init="farthest",
    )
    assigned = ivf_assign(emb, cent, id_col=id_col, vec_col=vec_col).select(
        id_col, "centroid_id"
    )
    e = emb.select(F.col(id_col), _as_double(vec_col).alias("v")).join(
        assigned, id_col
    )
    a = e.select(
        F.col(id_col).alias("d1"), F.col("centroid_id"), F.col("v").alias("va")
    )
    b = e.select(
        F.col(id_col).alias("d2"), F.col("centroid_id"), F.col("v").alias("vb")
    )
    sim = cosine_sim_expr(F.col("va"), F.col("vb"))
    dropped = (
        a.join(b, ["centroid_id"])
        .filter(F.col("d1") < F.col("d2"))
        .filter(F.round(sim, 4) >= threshold)
        .select(F.col("d2").alias(id_col))
        .distinct()
    )
    return e.select(id_col, "centroid_id").join(
        dropped.withColumn("_drop", F.lit(True)), id_col, "left"
    ).select(
        id_col,
        "centroid_id",
        F.coalesce(~F.col("_drop"), F.lit(True)).alias("keep"),
    )
