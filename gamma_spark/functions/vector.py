"""Vector distance/similarity expressions — all JVM-side Catalyst
expressions (``zip_with`` / ``aggregate``), no Python in the hot path.

These mirror the reference's distance kernels
(`index/impl/gamma_index_flat.cc:118-313` heap scans over
InnerProduct/L2, `index/retrieval_model.h:20` DistanceComputeType) but
as whole-stage-codegen'd column expressions. Accumulation is
left-to-right in double precision, which makes scores bit-reproducible
against DuckDB's ``list_dot_product`` / ``list_distance`` — our
correctness oracle depends on this.

Metric direction (SURVEY §7.3): InnerProduct/Cosine rank DESC (bigger is
closer), L2/Hamming rank ASC. ``metric_ascending`` centralizes that.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

#: metric name -> True if smaller score means closer (sort ascending)
METRIC_ASCENDING = {"IP": False, "COSINE": False, "L2": True, "HAMMING": True}


def metric_ascending(metric: str) -> bool:
    try:
        return METRIC_ASCENDING[metric.upper()]
    except KeyError:
        raise ValueError(
            f"unknown metric {metric!r}; one of {sorted(METRIC_ASCENDING)}"
        ) from None


def _as_double_array(c: Column | str) -> Column:
    c = F.col(c) if isinstance(c, str) else c
    return c.cast("array<double>")


def zero_fill_vectors(df, vec_col: str, dim: int):
    """Reference parity for absent vector values: gamma's wire format
    has no nullability — an absent field is ZERO BYTES, i.e. the zero
    vector (`idl/fbs/doc.fbs:5-14`, SURVEY §1.2). A raw 100 TB ingest
    WILL carry NULL vector cells; apply this at ingest so every kernel
    sees the fixed-length non-null vectors the engine (like gamma)
    requires. Scan-stage expression — no shuffle, no Python."""
    zeros = F.array_repeat(F.lit(0.0), int(dim)).cast(
        df.schema[vec_col].dataType
    )
    return df.withColumn(vec_col, F.coalesce(F.col(vec_col), zeros))


def stack_vectors(values, what: str) -> "np.ndarray":  # noqa: F821
    """np.stack with an actionable error: a NULL or ragged vector row
    otherwise surfaces as an opaque numpy/Arrow error five frames deep
    in an executor. Used by the Arrow kernels' hot paths — the check is
    free (np.stack already fails; this only rewrites the diagnosis)."""
    import numpy as np

    try:
        return np.stack(values)
    except Exception as exc:
        raise ValueError(
            f"{what}: the engine requires fixed-length NON-NULL vectors "
            "(found NULL or ragged rows in the vector column); gamma "
            "zero-fills absent vectors — apply "
            "functions.vector.zero_fill_vectors at ingest, or drop the "
            "rows"
        ) from exc


def dot(a: Column | str, b: Column | str) -> Column:
    """Inner product <a, b> in double precision, left-to-right."""
    prods = F.zip_with(_as_double_array(a), _as_double_array(b), lambda x, y: x * y)
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def l2_squared(a: Column | str, b: Column | str) -> Column:
    """Squared euclidean distance (the reference scores L2 unsquare-rooted
    unless ``l2_sqrt`` is set — `idl/fbs/request.fbs:39`)."""
    diffs = F.zip_with(
        _as_double_array(a), _as_double_array(b), lambda x, y: (x - y) * (x - y)
    )
    return F.aggregate(diffs, F.lit(0.0), lambda acc, x: acc + x)


def l2(a: Column | str, b: Column | str) -> Column:
    """Euclidean distance (gamma's l2_sqrt=true presentation)."""
    return F.sqrt(l2_squared(a, b))


def norm(a: Column | str) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column | str, b: Column | str) -> Column:
    """Cosine similarity. The reference enumerates Cosine in
    DistanceComputeType (`index/retrieval_model.h:20`) but implements it
    by normalizing at ingest + InnerProduct; we provide it directly.

    Zero-norm contract (r11, flushed by the dirty-vector parity gate):
    a zero vector — exactly what the documented zero_fill_vectors
    remediation produces for absent vectors — has no direction, so its
    similarity to anything is defined as 0.0. Without the guard the
    expression is 0/0, which Spark's ANSI mode raises as DIVIDE_BY_ZERO
    at scan time (one bad row kills the whole request)."""
    denom = norm(a) * norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def score(metric: str, a: Column | str, b: Column | str, l2_sqrt: bool = False) -> Column:
    """Score column for a metric name, matching gamma semantics."""
    m = metric.upper()
    if m == "IP":
        return dot(a, b)
    if m == "L2":
        return l2(a, b) if l2_sqrt else l2_squared(a, b)
    if m == "COSINE":
        return cosine(a, b)
    if m == "HAMMING":
        return hamming(a, b)
    raise ValueError(f"unknown metric {metric!r}")


# ---------------------------------------------------------------------------
# Binary vectors (BINARYIVF, SURVEY K6): gamma stores 1 bit/dim, dim%8==0
# (`vector/vector_manager.cc:100-103`), scored by Hamming distance
# (`index/impl/gamma_index_binary_ivf.cc:281-331`). We pack <=63 sign bits
# into a BIGINT so XOR+bit_count stays a two-instruction codegen'd kernel.
# ---------------------------------------------------------------------------

SIGN_BITS = 63  # bits we pack into one signed 64-bit long (avoid the sign bit)


def sign_bits(a: Column | str, n_bits: int = SIGN_BITS) -> Column:
    """Pack the sign bits of the first ``n_bits`` vector components into a
    BIGINT: bit i set iff a[i] > 0. This is the standard binarization the
    reference's BINARYIVF consumes; packing into a long (vs gamma's byte
    string) keeps Hamming scoring inside whole-stage codegen."""
    arr = F.slice(_as_double_array(a), 1, n_bits)
    # fold: acc*2 + (x>0); equivalent to big-endian bit packing, and
    # expressible identically in ANSI SQL for the DuckDB oracle.
    return F.aggregate(
        arr,
        F.lit(0).cast("long"),
        lambda acc, x: acc * F.lit(2).cast("long")
        + F.when(x > 0, F.lit(1)).otherwise(F.lit(0)).cast("long"),
    )


def hamming(a: Column | str, b: Column | str) -> Column:
    """Hamming distance between two bit-packed BIGINT signatures."""
    a = F.col(a) if isinstance(a, str) else a
    b = F.col(b) if isinstance(b, str) else b
    return F.bit_count(a.bitwiseXOR(b)).cast("int")


# --- SQL-string builders (shared with oracle generation) -------------------
# The DuckDB oracle must run the *same arithmetic in the same order*.
# These helpers emit the ANSI/DuckDB SQL equivalents of the expressions
# above so Spark query and oracle never drift.


def sql_dot(a: str, b: str) -> str:
    return f"list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[])"


def sql_l2_squared(a: str, b: str) -> str:
    # element-wise diff then in-order sum of squares — bit-exact with
    # the Spark zip_with/aggregate expression (verified empirically)
    d = (
        f"list_transform(list_zip(({a})::DOUBLE[], ({b})::DOUBLE[]), "
        f"p -> (p[1] - p[2]) * (p[1] - p[2]))"
    )
    return f"list_reduce(list_prepend(0.0::DOUBLE, {d}), (acc, x) -> acc + x)"


def sql_cosine(a: str, b: str) -> str:
    # zero-norm -> 0.0, the same contract as cosine() above
    denom = (
        f"(sqrt(list_dot_product(({a})::DOUBLE[], ({a})::DOUBLE[])) * "
        f"sqrt(list_dot_product(({b})::DOUBLE[], ({b})::DOUBLE[])))"
    )
    return (
        f"(CASE WHEN {denom} = 0.0 THEN 0.0 ELSE "
        f"(list_dot_product(({a})::DOUBLE[], ({b})::DOUBLE[]) / {denom}) END)"
    )


def sql_sign_bits(a: str, n_bits: int = SIGN_BITS) -> str:
    return (
        f"list_reduce(list_prepend(0::BIGINT, "
        f"[CASE WHEN x > 0 THEN 1::BIGINT ELSE 0::BIGINT END "
        f"for x in (({a})::DOUBLE[])[1:{n_bits}]]), "
        f"(acc, x) -> acc * 2 + x)"
    )


def sql_hamming(a: str, b: str) -> str:
    return f"bit_count(xor(({a})::BIGINT, ({b})::BIGINT))::INT"
