"""Similarity search over embedding columns (array<float>).

Two paths, mirroring how ANN works on a real cluster:

- :func:`cosine_topk` — brute force: one JVM-side cosine per row, a
  single top-k (TakeOrderedAndProject — no full sort, no shuffle of
  the data, only k rows to the driver). The correctness baseline, and
  at 100 TB still embarrassingly parallel.
- :func:`lsh_topk` — random-hyperplane LSH with multiprobe: only
  buckets within ``probe_hamming`` of the query's bucket are scanned,
  turning a full scan into a partition-pruned scan when the bucket key
  is a partition/cluster column.
- :func:`knn_join` — batched k-NN: every left row gets its k nearest
  right rows, blocked by LSH bucket to avoid the cross product.
"""

from __future__ import annotations

import math
from typing import Optional, Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..functions import vectors as VEC


def _planes(n_planes: int, dim: int, seed: int):
    import numpy as np

    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim)).tolist()


def _batch_matrix(vec_arr, n_rows: int):
    """(X float64 matrix over the non-null rows, valid_idx) from an
    Arrow list<float> column of uniform-length vectors.

    Fast path: when the column has no nulls and uniform list lengths,
    the flat values buffer reshapes zero-copy into (n, dim) — measured
    ~0.4 s cheaper per 2M x 64 rows than np.stack over the per-row
    object arrays, which allocates one ndarray per row. Falls back to
    the object-array stack for ragged lists."""
    import numpy as np
    import pyarrow as pa

    if vec_arr.null_count == 0 and n_rows and pa.types.is_list(vec_arr.type):
        flat = vec_arr.values
        if len(flat) % n_rows == 0:
            dim = len(flat) // n_rows
            offs = np.frombuffer(
                vec_arr.buffers()[1],
                dtype=np.int32,
                count=n_rows + 1,
                offset=vec_arr.offset * 4,
            )
            if offs[-1] - offs[0] == n_rows * dim and (
                np.diff(offs) == dim
            ).all():
                lo = int(offs[0])
                X = (
                    np.asarray(flat, dtype=np.float64)[lo : lo + n_rows * dim]
                    .reshape(n_rows, dim)
                )
                return X, np.arange(n_rows)
    isnull = np.asarray(vec_arr.is_null())
    valid_idx = np.flatnonzero(~isnull)
    if not len(valid_idx):
        return None, valid_idx
    X = np.stack(
        vec_arr.take(pa.array(valid_idx)).to_numpy(zero_copy_only=False)
    ).astype(np.float64)
    return X, valid_idx


def cosine_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    vectorized: bool = True,
) -> DataFrame:
    """Exact top-k by cosine similarity to a literal query vector.

    ``vectorized=True`` scores each Arrow batch as one numpy matrix op
    (see cosine_topk_int8 — Catalyst evaluates HOF lambdas interpreted
    per element, so the dense kernel is faster off-JVM even counting
    the Arrow hop); ``vectorized=False`` keeps the pure-JVM
    zip_with/aggregate path. Both round to 4 digits JVM-side before
    the top-k, which also absorbs summation-order differences between
    backends. Scoring runs on executors either way; only k rows reach
    the driver.

    Returns (key_col, cos) — k rows, deterministic tie-break on key.
    """
    if vectorized:
        try:
            import numpy as np
            import pandas as pd
            from pyspark.sql.functions import pandas_udf
        except ImportError:
            pass
        else:
            qarr = np.asarray([float(v) for v in query_vec], dtype=np.float64)
            qn = math.sqrt(float(qarr @ qarr)) or 1e-30

            def _cos_kernel(emb):
                if len(emb) == 0:  # empty Arrow batch (empty partition)
                    return pd.Series([], dtype="float64")
                x = np.stack(emb.to_numpy()).astype(np.float64)
                dot = x @ qarr
                n = np.sqrt((x * x).sum(axis=1))
                return pd.Series(dot / (n * qn))

            _cos_raw = pandas_udf(_cos_kernel, "double")
            scored = df.select(
                key_col, F.round(_cos_raw(F.col(vec_col)), 4).alias("cos")
            )
            return scored.orderBy(F.desc("cos"), F.asc(key_col)).limit(k)
    scored = df.select(
        key_col, F.round(VEC.cosine_to_query(F.col(vec_col), query_vec), 4).alias("cos")
    )
    return scored.orderBy(F.desc("cos"), F.asc(key_col)).limit(k)


def cosine_topk_int8(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    vectorized: bool = True,
) -> DataFrame:
    """Top-k cosine over int8-quantized vectors (4x less IO than
    float32 — the storage-bound regime at 100 TB of embeddings).
    Cosine is scale-invariant, so the per-vector quantization scale
    cancels and ranking needs only the integer codes; the query is
    quantized once on the driver.

    Two scorer backends producing bit-identical values:

    - ``vectorized=True`` (default): Arrow-batched pandas UDF — the
      whole batch becomes one numpy matrix and the quantize+dot kernel
      is two BLAS-shaped array ops. Dense numeric kernels are the one
      place the JVM expression path loses: Catalyst evaluates
      higher-order-function lambdas interpreted per element, ~400 ns/
      element (measured sf10: 6.0 s for 200k x 64, on par with the
      DuckDB oracle's 4.9 s unnest plan) vs 1.4 s end-to-end for the
      Arrow path (0.28x the oracle). Still fully distributed — scoring
      runs on executors, only k rows reach the driver.
    - ``vectorized=False``: pure JVM higher-order functions, zero
      Python in the plan — keeps working when Arrow/pandas are absent.

    The quantization arithmetic (absmax/127 scale, floor(x/s + 0.5)
    half-up codes, integer dots exact in doubles) is identical in both,
    and the final 4-digit round happens JVM-side in both so engine
    rounding semantics stay uniform.

    Returns (key_col, qcos) — k rows, deterministic tie-break on key.
    """
    absmax = max(max(abs(float(v)) for v in query_vec), 1e-30)
    qscale = absmax / 127.0
    qcodes = [int(math.floor(float(v) / qscale + 0.5)) for v in query_vec]
    qnorm_f = math.sqrt(sum(c * c for c in qcodes))
    if vectorized:
        try:
            import numpy as np
            import pandas as pd
            from pyspark.sql.functions import pandas_udf
        except ImportError:
            pass
        else:
            qarr = np.asarray(qcodes, dtype=np.float64)

            def _qcos_kernel(emb):
                if len(emb) == 0:  # empty Arrow batch (empty partition)
                    return pd.Series([], dtype="float64")
                x = np.stack(emb.to_numpy()).astype(np.float64)
                scale = np.maximum(np.abs(x).max(axis=1) / 127.0, 1e-30)
                codes = np.floor(x / scale[:, None] + 0.5)
                # codes and qarr are small integers: the products are
                # exact in float64, so the sums are order-independent
                # and bit-equal to the JVM/oracle accumulation
                dot = codes @ qarr
                n2 = (codes * codes).sum(axis=1)
                return pd.Series(dot / (np.sqrt(n2) * qnorm_f))

            # explicit form (not type hints): the module-level
            # `from __future__ import annotations` stringifies hints,
            # which pandas_udf cannot resolve for locally-imported pd
            _qcos_raw = pandas_udf(_qcos_kernel, "double")

            scored = df.select(
                key_col, F.round(_qcos_raw(F.col(vec_col)), 4).alias("qcos")
            )
            return scored.orderBy(F.desc("qcos"), F.asc(key_col)).limit(k)
    qlit = VEC.lit_vector(qcodes)
    # query norm is a constant — fold it on the driver instead of
    # re-aggregating 2*dim ops per row
    qnorm = qnorm_f
    # single-pass scorer: dot(c,q) and |c|^2 accumulate together over
    # ONE reference to the quantized codes, so even if Catalyst inlines
    # the projection the quantization aggregate runs once per row
    # (dot + sqrt(dot) would reference it three times)
    coded = df.select(key_col, VEC.quantize_int8(F.col(vec_col))["codes"].alias("__codes"))
    pairs = F.zip_with(
        F.col("__codes"),
        qlit,
        lambda x, y: F.struct(
            (x.cast("double") * y).alias("p"),
            (x.cast("double") * x.cast("double")).alias("s"),
        ),
    )
    qcos = F.aggregate(
        pairs,
        F.struct(F.lit(0.0).alias("d"), F.lit(0.0).alias("n")),
        lambda acc, e: F.struct((acc["d"] + e["p"]).alias("d"), (acc["n"] + e["s"]).alias("n")),
        lambda acc: F.round(acc["d"] / (F.sqrt(acc["n"]) * F.lit(qnorm)), 4),
    )
    scored = coded.select(key_col, qcos.alias("qcos"))
    return scored.orderBy(F.desc("qcos"), F.asc(key_col)).limit(k)


def lsh_topk(
    df: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    n_planes: int = 6,
    probe_hamming: int = 1,
    seed: int = 42,
) -> DataFrame:
    """Approximate top-k: scan only LSH buckets within
    ``probe_hamming`` bit flips of the query's bucket (multiprobe)."""
    dim = len(query_vec)
    planes = _planes(n_planes, dim, seed)
    import numpy as np

    qbits = "".join("1" if float(np.dot(p, list(query_vec))) >= 0 else "0" for p in planes)
    # buckets within hamming distance: enumerate on the driver (tiny)
    def flips(bits: str, d: int):
        out = {bits}
        if d >= 1:
            for i in range(len(bits)):
                out.add(bits[:i] + ("0" if bits[i] == "1" else "1") + bits[i + 1 :])
        if d >= 2:
            for i in range(len(bits)):
                for j in range(i + 1, len(bits)):
                    b = list(bits)
                    b[i] = "0" if b[i] == "1" else "1"
                    b[j] = "0" if b[j] == "1" else "1"
                    out.add("".join(b))
        return sorted(out)

    probe = flips(qbits, probe_hamming)
    try:
        import numpy as np
        import pyarrow as pa  # noqa: F401
    except ImportError:
        keyed = df.select(
            key_col, vec_col, VEC.sign_bits(F.col(vec_col), planes).alias("bucket")
        )
        cands = keyed.where(F.col("bucket").isin(probe))
        # JVM fallback: interpreted fold scorer over the survivors
        scored = cands.select(
            key_col,
            F.round(VEC.cosine_to_query(F.col(vec_col), query_vec), 4).alias("cos"),
        )
        return scored.orderBy(F.desc("cos"), F.asc(key_col)).limit(k)
    # Fused kernel (r12): the former shape ran TWO Arrow passes — a
    # full-table sign_bits_fast pass that materialized a bucket string
    # per row, then a second pass scoring the survivors — and at sf100
    # the full-table pass alone made the 14%-probe query as slow as
    # the exact scan. One mapInArrow pass computes the sign bits,
    # drops non-probed rows, and scores the survivors against the
    # query without ever serializing bucket strings; bit rule
    # (sign(x @ P) >= 0 in float64) and scoring (numpy dot/norm, JVM
    # 4-decimal round after) are byte-for-byte the kernels it fuses.
    # A NULL vector belongs to the all-zeros bucket and scores NULL —
    # the shape sign_bits_fast documents.
    from pyspark.sql.types import DoubleType, StructField, StructType

    key_field = df.schema[key_col]
    out_schema = StructType(
        [
            StructField(key_col, key_field.dataType, True),
            StructField("cos", DoubleType(), True),
        ]
    )
    P = np.asarray(planes, dtype=np.float64).T
    qarr = np.asarray([float(v) for v in query_vec], dtype=np.float64)
    qn = float(np.sqrt(qarr @ qarr)) or 1e-30
    # bucket membership on INTEGER codes (bit i of the string = plane
    # i = weight 2^(n-1-i), the int(s, 2) bijection): np.isin over the
    # <=37-code probe set replaces a per-row Python string join + set
    # lookup — the join was ~half the kernel at 2M rows
    pow2 = (1 << np.arange(n_planes - 1, -1, -1)).astype(np.uint64)
    probe_codes = np.asarray(sorted(int(s, 2) for s in probe), dtype=np.uint64)
    zeros_in_probe = 0 in probe_codes

    def _probe_score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            keys_arr = b.column(0)
            vecs = b.column(1)
            X, valid_idx = _batch_matrix(vecs, n)
            out = []
            if X is not None:
                codes = ((X @ P) >= 0).astype(np.uint64) @ pow2
                member = np.isin(codes, probe_codes)
                if member.any():
                    Xm = X[member]
                    cos = (Xm @ qarr) / (
                        np.sqrt((Xm * Xm).sum(axis=1)) * qn
                    )
                    out.append(
                        (
                            keys_arr.take(pa.array(valid_idx[member])),
                            pa.array(cos, from_pandas=True),
                        )
                    )
            if zeros_in_probe and len(valid_idx) < n:
                isnull = np.ones(n, dtype=bool)
                isnull[valid_idx] = False
                null_idx = np.flatnonzero(isnull)
                out.append(
                    (
                        keys_arr.take(pa.array(null_idx)),
                        pa.nulls(len(null_idx), pa.float64()),
                    )
                )
            for keys_part, cos_part in out:
                yield pa.RecordBatch.from_arrays(
                    [keys_part, cos_part], names=[key_col, "cos"]
                )

    scored = (
        df.select(key_col, vec_col)
        .mapInArrow(_probe_score, out_schema)
        .select(key_col, F.round(F.col("cos"), 4).alias("cos"))
    )
    return scored.orderBy(F.desc("cos"), F.asc(key_col)).limit(k)


def ivf_build(
    df: DataFrame,
    n_centroids: int = 16,
    iters: int = 3,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
    seed: int = 42,
) -> tuple[list[list[float]], DataFrame]:
    """IVF-Flat index build: k-means centroids + per-row assignment.

    Assignment defaults to a vectorized Arrow pandas UDF — one numpy
    matmul per batch (see _assign; the interpreted JVM fold it
    replaces was most of a 996 s build at 2M x 64) — with a pure-JVM
    higher-order-function fallback when numpy is unavailable; the
    centroid update aggregates per-dimension means, which is
    `n_centroids x dim` numbers on the driver regardless of table size
    — the layout every billion-vector IVF build uses.

    Returns (centroids, df ⊕ centroid_id). Persist the assignment as a
    partition/cluster column and ANN probes become partition-pruned
    scans.
    """
    rows = df.select(key_col, vec_col)
    # deterministic init: first n by hashed key (spread, seed-stable)
    init = (
        rows.orderBy(F.xxhash64(F.col(key_col).cast("string"), F.lit(seed)))
        .limit(n_centroids)
        .select(vec_col)
        .collect()
    )
    centroids = [[float(x) for x in r[0]] for r in init]

    for _ in range(iters):
        assigned = _assign(rows, centroids, vec_col)
        means = (
            assigned.select("centroid_id", F.posexplode(vec_col).alias("pos", "x"))
            .groupBy("centroid_id", "pos")
            .agg(F.avg(F.col("x").cast("double")).alias("m"))
            .collect()
        )
        new = {}
        for r in means:
            new.setdefault(r.centroid_id, {})[r.pos] = r.m
        centroids = [
            [new[c][p] for p in sorted(new[c])] if c in new else centroids[c]
            for c in range(n_centroids)
        ]
    return centroids, _assign(rows, centroids, vec_col)


def _assign(rows: DataFrame, centroids: list[list[float]], vec_col: str) -> DataFrame:
    """centroid_id = argmax cosine(vec, centroid).

    Cosine ordering is invariant to the row vector's own norm, so
    centroids are unit-normalized on the DRIVER and each row does ONE
    dot per centroid. The kernel is a vectorized Arrow batch matmul
    (rows x dim @ dim x n_centroids) with numpy argmax — the same
    first-max tie-break as the JVM fold below, which Catalyst
    evaluates as interpreted per-element lambdas (~400 ns each; at
    2M x 64-dim x 64 centroids the fold was most of a 996 s IVF
    build). Falls back to the JVM shape when numpy is unavailable.
    NULL vectors get centroid_id -1 on both paths."""

    def _unit(c):
        n = math.sqrt(sum(float(x) * float(x) for x in c))
        return [float(x) / n for x in c] if n > 0 else [0.0] * len(c)

    try:
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf
    except ImportError:
        pd = None
    if pd is not None and centroids:
        C = np.asarray([_unit(c) for c in centroids], dtype=np.float64).T

        def _kernel(emb):
            if len(emb) == 0:
                return pd.Series([], dtype="int32")
            isnull = emb.isna().to_numpy()
            out = np.full(len(emb), -1, dtype=np.int32)
            if (~isnull).any():
                x = np.stack(emb[~isnull].to_numpy()).astype(np.float64)
                best = np.argmax(x @ C, axis=1).astype(np.int32)
                # Vectors containing a NULL element (not fully NULL):
                # Arrow surfaces the element as NaN, it propagates
                # through the matmul, and argmax would pick an
                # arbitrary centroid — while the JVM when(null > acc)
                # fold never advances past its -1 seed. Mask rows with
                # any non-finite element into the -1 bucket (r11
                # ADVICE). Element-level NaN/Inf in the DATA (as
                # opposed to NULL) is unsupported input: it is
                # indistinguishable from NULL after the Arrow
                # conversion, and the JVM fold's NaN ordering would
                # differ.
                best[~np.isfinite(x).all(axis=1)] = -1
                out[~isnull] = best
            return pd.Series(out)

        return rows.withColumn(
            "centroid_id", pandas_udf(_kernel, "int")(F.col(vec_col))
        )
    carr = F.array(*[VEC.lit_vector(_unit(c)) for c in centroids])
    sims = F.transform(carr, lambda c: VEC.dot(F.col(vec_col), c))
    idx = F.array(*[F.lit(i) for i in range(len(centroids))])
    best = F.aggregate(
        F.zip_with(sims, idx, lambda s, i: F.struct(s.alias("s"), i.alias("i"))),
        F.struct(F.lit(float("-inf")).alias("s"), F.lit(-1).alias("i")),
        lambda acc, e: F.when(e["s"] > acc["s"], e).otherwise(acc),
    )["i"]
    return rows.withColumn("centroid_id", best.cast("int"))


def ivf_topk(
    assigned: DataFrame,
    centroids: list[list[float]],
    query_vec: Sequence[float],
    k: int = 10,
    n_probe: int = 4,
    vec_col: str = "embedding",
    key_col: str = "vec_id",
) -> DataFrame:
    """ANN top-k over an IVF index: rank centroids against the query on
    the driver (tiny), scan only the ``n_probe`` nearest inverted
    lists. With the assignment as a partition column this reads
    n_probe/n_centroids of the data."""
    import numpy as np

    q = np.asarray(list(query_vec), dtype=float)
    qn = np.linalg.norm(q) or 1.0
    sims = []
    for i, c in enumerate(centroids):
        cv = np.asarray(c)
        denom = (np.linalg.norm(cv) * qn) or 1.0
        sims.append((float(cv @ q / denom), i))
    probe = [i for _, i in sorted(sims, reverse=True)[:n_probe]]
    cands = assigned.where(F.col("centroid_id").isin(probe))
    # score through cosine_topk's vectorized Arrow kernel (one numpy
    # matmul per batch) instead of the interpreted per-element fold —
    # same 4-decimal rounded values, same ordering/tie-break
    return cosine_topk(cands, query_vec, k=k, vec_col=vec_col, key_col=key_col)


def _vec_dim(df: DataFrame, vec_col: str) -> Optional[int]:
    """Embedding length of the first row (one-row LIMIT scan — cheap at
    any table size), or None for an empty input."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    return None if row is None else int(row["d"])


def _knn_scores_broadcast(
    r: DataFrame, qrows, planes, qid_field, k: int
) -> DataFrame:
    """Score a driver-collected query panel against the right side in
    one mapInArrow pass — no pair rows carrying vector payloads ever
    materialize (guide §8: decide with small rows, move big rows once).

    The former shape joined the banded sides and shipped BOTH 64-float
    vectors on every candidate pair row through the join and the Arrow
    verify boundary (at sf100: ~64M pairs x ~0.5 KB — the pair
    serialization WAS the query, 62.6 s). Here the panel (qid, qv,
    bucket) rides into the kernel as numpy constants; each right batch
    computes its buckets and one (rows x queries-in-bucket) matmul, and
    only (qid, nid, cos) — ~20 bytes/pair — leaves the kernel.

    Pair-set identity with the join shape: same planes, same
    sign(x @ P) >= 0 bucket rule evaluated in float64 (sign_bits_fast's
    own kernel), NULL vectors get the all-zeros bucket on both sides
    and score NULL, exactly as sign_bits_fast + cosine_pairs_fast
    produced. ``planes=None`` is the exact=True cross product. Cosine
    values: same IEEE double dot/norm up to float summation reordering
    (matmul vs per-pair sum), absorbed by the caller's 4-decimal round
    — the tolerance every vectorized kernel here already documents.

    The kernel also applies a PARTIAL top-k per (query, batch) so the
    downstream window never sorts the full pair stream (at sf100 that
    sort, not the scoring, was the wall: WindowGroupLimit still sorts
    every map partition's ~20M pair rows first). The reduction is an
    exact superset of the final top-k contenders: the final comparator
    is (round(cos, 4) DESC, nid ASC), and round4 moves a value by at
    most 5e-5, so any row more than 1e-4 below the batch's k-th best
    UNROUNDED cosine is strictly beaten by k rows after rounding and
    can never be selected — rows within a 2e-4 margin of the k-th best
    are all kept (rounded ties resolve by nid in the unchanged JVM
    window). NULL-cosine candidates sort NULLS LAST by nid, so only
    the k smallest-nid NULL rows per (query, batch) can ever rank.
    """
    import numpy as np
    import pyarrow as pa

    from pyspark.sql.types import DoubleType, StructField, StructType

    nid_field = r.schema["nid"]
    out_schema = StructType(
        [
            StructField("qid", qid_field.dataType, True),
            StructField("nid", nid_field.dataType, True),
            StructField("cos", DoubleType(), True),
        ]
    )
    from pyspark.sql.pandas.types import to_arrow_type

    qid_pa_type = to_arrow_type(qid_field.dataType)

    P = (
        np.asarray([[float(x) for x in h] for h in planes], dtype=np.float64).T
        if planes
        else None
    )
    n_bits = P.shape[1] if P is not None else 0
    zeros_key = "0" * n_bits

    # driver-side panel: group queries by bucket key (exact mode: one
    # all-zeros group matching every right row)
    groups: dict = {}
    for row in qrows:
        qid, qv = row["qid"], row["qv"]
        if qv is None:
            key, vec = zeros_key, None
        elif P is not None:
            q = np.asarray([float(x) for x in qv], dtype=np.float64)
            key = "".join("1" if b else "0" for b in (q @ P) >= 0)
            vec = q
        else:
            key = zeros_key
            vec = np.asarray([float(x) for x in qv], dtype=np.float64)
        groups.setdefault(key, []).append((qid, vec))

    # per bucket: (scorable qids, Q matrix, query norms, NULL-vector
    # qids that score NULL against every matched row)
    panel = {}
    for key, members in groups.items():
        qids = [m[0] for m in members if m[1] is not None]
        nulls = [m[0] for m in members if m[1] is None]
        Q = np.stack([m[1] for m in members if m[1] is not None]) if qids else None
        qn = np.sqrt((Q * Q).sum(axis=1)) if qids else None
        panel[key] = (qids, Q, qn, nulls)

    def _score(batches):
        for b in batches:
            n = b.num_rows
            if n == 0:
                continue
            nids = b.column(0)
            nv = b.column(1)
            X, valid_idx = _batch_matrix(nv, n)
            isnull = np.ones(n, dtype=bool)
            isnull[valid_idx] = False
            if P is not None:
                keys = np.full(n, zeros_key, dtype=object)
                if X is not None:
                    bits = (X @ P) >= 0
                    keys[valid_idx] = [
                        "".join("1" if v else "0" for v in rowbits)
                        for rowbits in bits
                    ]
                cand_keys = [kk for kk in set(keys.tolist()) if kk in panel]
            else:
                keys = None
                cand_keys = [zeros_key] if zeros_key in panel else []
            xpos = np.full(n, -1, dtype=np.int64)
            xpos[valid_idx] = np.arange(len(valid_idx))
            xn = np.sqrt((X * X).sum(axis=1)) if X is not None else None
            out_qid: list = []
            out_nid: list = []
            out_cos: list = []

            def _emit(qid, nid_arr, cos_np):
                if qid is None:
                    out_qid.append(pa.nulls(len(nid_arr)))
                else:
                    out_qid.append(pa.array([qid] * len(nid_arr)))
                out_nid.append(nid_arr)
                out_cos.append(cos_np)

            def _k_smallest_nids(idx):
                # the only NULL-cosine rows that can ever rank: the k
                # smallest nids (NULLS LAST, then nid ASC)
                if len(idx) <= k:
                    return idx
                vals = np.asarray(
                    nids.take(pa.array(idx)).to_numpy(zero_copy_only=False)
                )
                return idx[np.argpartition(vals, k)[:k]]

            for key in cand_keys:
                qids, Q, qn, nulls = panel[key]
                ridx = np.flatnonzero(keys == key) if keys is not None else np.arange(n)
                if len(ridx) == 0:
                    continue
                rvalid = ridx[~isnull[ridx]]
                rnull = _k_smallest_nids(ridx[isnull[ridx]])
                if Q is not None and len(rvalid):
                    Xb = X[xpos[rvalid]]
                    cos = (Xb @ Q.T) / (xn[xpos[rvalid]][:, None] * qn[None, :])
                    nid_valid = nids.take(pa.array(rvalid))
                    m = cos.shape[0]
                    # partial top-k vectorized ACROSS the query axis
                    # (r12 s4): the per-query python loop here was
                    # O(queries-in-bucket) interpreter iterations per
                    # (batch, bucket) — the kernel wall once the panel
                    # is tiles of thousands. One column-wise partition
                    # computes every query's k-th best at once; the
                    # thresholds are the SAME np.partition element
                    # values the per-column code produced (NaN filled
                    # with -inf sorts below every finite cosine, so a
                    # column with <= k finite values gets kth = -inf =
                    # keep-all-finite, exactly the old else-branch;
                    # NaN >= t is False, the old ~nan_mask term).
                    # one NaN mask; the -inf-filled copy lives only in the partition call
                    nan = np.isnan(cos)
                    if m > k:
                        kth = np.partition(np.where(nan, -np.inf, cos), m - k, axis=0)[m - k]
                        vmask = cos >= (kth - 2e-4)[None, :]
                    else:
                        vmask = ~nan
                    # zero-norm rows: NaN cosine -> NULL; only the k
                    # smallest nids can rank. Per-column rule kept
                    # verbatim, run only for the affected columns
                    # (none, in a corpus without zero/NaN vectors).
                    for j in np.flatnonzero(nan.any(axis=0)):
                        nan_idx = _k_smallest_nids(rvalid[nan[:, j]])
                        _emit(
                            qids[j],
                            nids.take(pa.array(nan_idx)),
                            np.full(len(nan_idx), np.nan),
                        )
                    rows_i, cols_j = np.nonzero(vmask)
                    if len(rows_i):
                        qarr = np.asarray(qids, dtype=object)
                        out_qid.append(pa.array(qarr[cols_j].tolist()))
                        out_nid.append(nid_valid.take(pa.array(rows_i)))
                        out_cos.append(cos[rows_i, cols_j])
                if len(rnull) and (qids or nulls):
                    nid_null = nids.take(pa.array(rnull))
                    nan_block = np.full(len(rnull), np.nan)
                    for qid in list(qids) + list(nulls):
                        _emit(qid, nid_null, nan_block)
                if nulls and len(rvalid):
                    # NULL-vector queries score NULL against every
                    # matched row: only the k smallest nids can rank
                    nv_idx = _k_smallest_nids(rvalid)
                    nid_valid2 = nids.take(pa.array(nv_idx))
                    nan_block2 = np.full(len(nv_idx), np.nan)
                    for qid in nulls:
                        _emit(qid, nid_valid2, nan_block2)
            if not out_cos:
                continue
            qid_arr = pa.concat_arrays(
                [a.cast(qid_pa_type) for a in out_qid]
            )
            nid_arr = pa.concat_arrays(out_nid)
            cos_arr = pa.array(np.concatenate(out_cos), from_pandas=True)
            yield pa.RecordBatch.from_arrays(
                [qid_arr, nid_arr, cos_arr], names=["qid", "nid", "cos"]
            )

    base = r.select("nid", "nv")
    # local-fixture parallelism guard: a single large parquet file
    # splits into totalBytes/maxPartitionBytes scan tasks (4-5 for the
    # 523 MB sf100 fixture), starving a 32-core host. One round-robin
    # exchange of the right side — the payload moves ONCE, per guide
    # §8 — restores full parallelism; at warehouse scale scans already
    # carry >= defaultParallelism splits and this never fires.
    dp = r.sparkSession.sparkContext.defaultParallelism
    if base.rdd.getNumPartitions() < dp:
        base = base.repartition(dp)
    return base.mapInArrow(_score, out_schema)


def knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    left_key: str = "vec_id",
    right_key: str = "vec_id",
    n_planes: int = 4,
    seed: int = 42,
    dim: Optional[int] = None,
    exact: bool = False,
    broadcast_queries_max: int = 8192,
    collect_queries_max: int = 65536,
) -> DataFrame:
    """For each left row, its k nearest right rows by cosine.

    exact=True does the full cross product (correctness baseline);
    exact=False blocks by LSH bucket (the at-scale path).

    When the left side fits under ``broadcast_queries_max`` rows, the
    query panel is collected to the driver and scoring runs as ONE
    mapInArrow pass over the right side (_knn_scores_broadcast) — no
    join materializes pair rows carrying both vectors.

    Between ``broadcast_queries_max`` and ``collect_queries_max`` left
    rows, the panel is split into ``broadcast_queries_max``-sized
    TILES and each tile runs its own kernel pass over the right side
    (r12, the "two-sided blocked" extension): one extra right-side
    scan per tile instead of the bucket join's pair materialization —
    at L x R / 2^planes candidate pairs each carrying both vectors
    (~0.5 KB/pair through the join and the window sort), a few extra
    scans are orders of magnitude cheaper (measured: OPTIMIZATION_r12.md,
    "knn_join past the broadcast cap — panel tiling"). Exactness: tiles partition the qids, so
    the unioned candidate stream is exactly the single-panel stream,
    and the unchanged final window resolves global top-k per qid. The
    per-tile kernel keeps every bound the single-panel path proved
    (closure size, per-batch partial top-k margin). Past
    ``collect_queries_max`` (driver memory bound for the collected
    panel), or with ``broadcast_queries_max=0``, or without
    numpy/pyarrow, the bucket-join shape is kept: it is the correct
    distributed plan when BOTH sides are genuinely large.

    ``dim`` (the LSH plane dimensionality) is inferred from the data
    when omitted; an explicit value is validated against the data —
    planes built for the wrong length would silently hash a prefix of
    every vector and degrade recall with no error.

    Returns (left_key as qid, right_key as nid, cos, rank).
    """
    l = left.select(F.col(left_key).alias("qid"), F.col(vec_col).alias("qv"))
    r = right.select(F.col(right_key).alias("nid"), F.col(vec_col).alias("nv"))
    qrows = None
    if broadcast_queries_max:
        try:
            import numpy  # noqa: F401
            import pyarrow  # noqa: F401
        except ImportError:
            qrows = None
        else:
            cap = max(collect_queries_max, broadcast_queries_max)
            qrows = l.limit(cap + 1).collect()
            if len(qrows) > cap:
                qrows = None
    planes = None
    if not exact:
        ldim, rdim = _vec_dim(left, vec_col), _vec_dim(right, vec_col)
        if ldim is not None and rdim is not None and ldim != rdim:
            raise ValueError(
                f"knn_join: left embeddings have length {ldim} but right have {rdim}"
            )
        data_dim = ldim if ldim is not None else rdim
        if dim is None:
            if data_dim is None:
                raise ValueError(
                    "knn_join: cannot infer embedding dim from empty inputs; pass dim="
                )
            dim = data_dim
        elif data_dim is not None and dim != data_dim:
            raise ValueError(
                f"knn_join: dim={dim} does not match the data's embedding length {data_dim}"
            )
        planes = _planes(n_planes, dim, seed)
    if qrows is not None:
        # one kernel pass per broadcast_queries_max-sized tile of the
        # panel (a single tile — every declared entry — is the exact
        # pre-r12 single-pass plan); tiles partition the qids, so the
        # union is the same candidate stream the one-pass kernel emits
        parts = [
            _knn_scores_broadcast(
                r, qrows[i : i + broadcast_queries_max], planes, l.schema["qid"], k
            )
            for i in range(0, len(qrows), broadcast_queries_max)
        ] or [_knn_scores_broadcast(r, [], planes, l.schema["qid"], k)]
        scored = parts[0]
        for p in parts[1:]:
            scored = scored.union(p)
        scored = scored.select("qid", "nid", F.round(F.col("cos"), 4).alias("cos"))
    else:
        if exact:
            pairs = l.crossJoin(r)
        else:
            lb = l.withColumn("bucket", VEC.sign_bits_fast(F.col("qv"), planes))
            rb = r.withColumn("bucket", VEC.sign_bits_fast(F.col("nv"), planes))
            pairs = lb.join(rb, "bucket")
        scored = pairs.select("qid", "nid", F.round(VEC.cosine_pairs_fast(F.col("qv"), F.col("nv")), 4).alias("cos"))
    w = Window.partitionBy("qid").orderBy(F.desc("cos"), F.asc("nid"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)
