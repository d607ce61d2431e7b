"""Join operators beyond plain equi-joins — SURVEY.md §2.3.

The one nontrivial reference join is J6, the *fuzzy containment lookup*
(``function_app.py:233-256``): for each fact string, scan a small dimension
table in row order and return the id of the FIRST dim row whose ``nombre``
is a case-insensitive substring of the fact string; null when nothing
matches. The reference runs it as an O(|fact|·|dim|) Python ``iterrows``
loop applied per fact row (``function_app.py:258, 268, 335, 345``).

Spark-first rendering: a broadcast theta-join (non-equi containment
predicate) + a first-match-wins window on the dim's stable order column.
Everything stays JVM-side / codegen — no Python in the hot path — and the
fact side streams: at 100 TB the cost is one broadcast of a ≤10⁴-row dim
and one narrow window over matches.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# Dim id types whose values str() renders in a form Spark casts back
# exactly; a dim with any other id type takes the struct-min form.
_LITERAL_ID_TYPES = (
    T.StringType, T.IntegralType, T.BooleanType, T.FractionalType, T.DateType,
)


def _sql_literal(v, sql_type: str = "string") -> str:
    """``str(v)`` as a SQL literal of ``sql_type`` that parses the same
    under either ``spark.sql.parser.escapedStringLiterals`` setting: its
    UTF-8 bytes as a hex binary literal, cast to a string and then to
    ``sql_type``. Constant folding turns it into a plain literal, so the
    optimised plan is unchanged."""
    text = f"CAST(X'{str(v).encode('utf-8').hex()}' AS STRING)"
    return text if sql_type == "string" else f"CAST({text} AS {sql_type})"


def fuzzy_containment_lookup(
    fact: DataFrame,
    dim: DataFrame,
    fact_text: str,
    dim_text: str,
    dim_id: str,
    out_col: str,
    dim_order: str | None = None,
    fact_key: str | None = None,
    max_dim_expr_rows: int = 1024,
) -> DataFrame:
    """Attach ``out_col`` = id of the first dim row (by ``dim_order``) whose
    ``dim_text`` is a case-insensitive substring of ``fact[fact_text]``.

    - ``dim_order``: column defining "first"; the reference relied on silent
      DataFrame row order (``function_app.py:253``) — here it must be
      explicit. ``None`` ⇒ use ``dim_id`` (stable, deterministic).
    - ``fact_key``: unique fact row key for the first-match window. ``None``
      ⇒ a transient ``monotonically_increasing_id`` is used and dropped.

    Left-join semantics: fact rows matching no dim row survive with a null id
    (reference returns ``None``, ``function_app.py:256``).

    Two physical strategies, picked by dim size:

    1. **Projection path** (dim ≤ ``max_dim_expr_rows``): the dim rows are
       collected once at plan time (bounded — same budget as a broadcast),
       sorted by (``dim_order``, id) and unrolled into one narrow
       expression ``coalesce(CASE WHEN instr(lower(text), name) > 0 THEN id
       END, …, CAST(NULL AS <id type>))``. No join node, no shuffle, no row
       explosion — the fact side streams through whole-stage codegen
       untouched. This is the 100 TB path for the reference's actual dims
       (≤10⁴ rows): per-row work is identical to the theta-join's
       predicate evaluation, but nothing else. The chain is rendered as
       ONE SQL string and parsed by one ``F.expr`` call, not built from
       about six py4j ``Column`` calls per dim row: names are written as
       hex literals (parsed alike under any
       ``spark.sql.parser.escapedStringLiterals``), ids as literals cast to
       the dim's id type. A dim with a null id, a NaN order, or an id
       type outside ``_LITERAL_ID_TYPES`` takes an equivalent struct-min
       form instead.
    2. **Theta-join path** (larger dims): broadcast non-equi join + a
       ``min_by`` hash aggregate to keep the first match per fact row.
    """
    if out_col in fact.columns:
        raise ValueError(f"out_col {out_col!r} already exists on the fact side")
    order_col = dim_order or dim_id
    # Both physical strategies must agree exactly: the id column keeps the
    # dim's dtype, and a dim row with NULL text matches nothing (in the theta
    # path instr(x, NULL) is NULL ⇒ no match; the projection path must not
    # stringify None into a matchable 'none').
    id_type = dim.schema[dim_id].dataType.simpleString()

    dim_rows = None
    if max_dim_expr_rows > 0:
        # limit(n+1) bounds the collect even if the dim is unexpectedly huge.
        probe = dim.select(dim_id, dim_text, order_col).limit(
            max_dim_expr_rows + 1
        ).collect()
        if len(probe) <= max_dim_expr_rows:
            dim_rows = probe
    if dim_rows is not None:
        dim_rows = [r for r in dim_rows if r[1] is not None]
        if not dim_rows:
            return fact.withColumn(out_col, F.lit(None).cast(id_type))
        has_nan_order = any(
            isinstance(r[2], float) and r[2] != r[2] for r in dim_rows
        )
        if (
            isinstance(dim.schema[dim_id].dataType, _LITERAL_ID_TYPES)
            and all(r[0] is not None for r in dim_rows)
            and not has_nan_order
        ):
            # Sorted-COALESCE encoding (the common case: non-null dim ids).
            # "First match by dim order" = min over (ord, id) structs; with
            # the rows SORTED at plan time by the same (nulls-first ord, id)
            # key Spark's struct ordering uses, that min is simply the first
            # matching branch — so a coalesce(when(contains, id), …) chain
            # is exactly equivalent. Unlike the array_min(filter(array(…)))
            # form it contains NO higher-order functions, so the projection
            # stays inside WholeStageCodegen (the lambda forms execute
            # interpreted), it SHORT-CIRCUITS at the first match instead of
            # evaluating every branch, and lower(fact_text) is hoisted into
            # one explicit projection instead of once per branch — measured
            # ~1.25× on the j6 bench shape (0.42→0.32 s min interleaved;
            # scan cost dominates at that text size, the projection itself
            # shrinks much more).
            # NaN order values are routed to the struct-min fallback
            # above (Python sorted() is unordered w.r.t. NaN while Spark
            # sorts NaN greater than any non-NaN — the branch order here
            # could disagree with the theta path's min(struct); ADVICE
            # r12), so this key sees only None/comparable orders.
            ordered = sorted(
                dim_rows,
                key=lambda r: (r[2] is not None, r[2], r[0]),
            )
            low = "__fuzzy_lowered"
            while low in fact.columns:
                low = f"_{low}"  # never clobber a real fact column
            branches = [
                f"CASE WHEN instr(`{low}`, {_sql_literal(str(r[1]).lower())})"
                f" > 0 THEN {_sql_literal(r[0], id_type)} END"
                for r in ordered
            ]
            branches.append(f"CAST(NULL AS {id_type})")
            return (
                fact.withColumn(low, F.lower(F.col(fact_text)))
                .withColumn(out_col, F.expr(f"coalesce({', '.join(branches)})"))
                .drop(low)
            )
        # A NULL dim id must surface as a null lookup result when its row
        # is the first match — coalesce would skip that branch — so the
        # struct-min form remains for that (degenerate) dim shape, and for
        # the NaN orders and id types the coalesce chain does not cover.
        lowered = F.lower(F.col(fact_text))
        candidates = F.array(
            *[
                F.when(
                    F.instr(lowered, F.lit(str(r[1]).lower())) > 0,
                    F.struct(
                        F.lit(r[2]).alias("o"),
                        F.lit(r[0]).cast(id_type).alias("i"),
                    ),
                )
                for r in dim_rows
            ]
        )
        first_match = F.array_min(F.array_compact(candidates))
        return fact.withColumn(out_col, first_match["i"])
    drop_key = fact_key is None
    if drop_key:
        fact_key = "__fuzzy_row_id"
        fact = fact.withColumn(fact_key, F.monotonically_increasing_id())

    d = dim.select(
        F.col(dim_id).alias("__dim_id"),
        F.lower(F.col(dim_text)).alias("__dim_text"),
        F.col(order_col).alias("__dim_order"),
    )
    joined = fact.join(
        F.broadcast(d),
        F.instr(F.lower(F.col(fact_text)), F.col("__dim_text")) > 0,
        "left",
    )
    # First match wins: argmin over the dim order as a hash aggregate with
    # map-side partial combine (measured ~8× faster than the equivalent
    # row_number window at sf0.1). min(struct(order, id)) — NOT
    # min_by(id, order) — so the theta path agrees with the projection
    # path's struct-min semantics on EVERY input: a null order sorts first
    # (Spark struct ordering is nulls-first ascending; min_by would skip
    # the row — the two strategies used to diverge there), and order ties
    # break deterministically by id (min_by picks an arbitrary one). A
    # no-match fact row survives the left join as one all-null dim row →
    # min(struct(null, null)) → null id (the reference's None,
    # function_app.py:256). Other fact columns are constant within the
    # group, so first() is exact.
    other_cols = [c for c in fact.columns if c != fact_key]
    out = joined.groupBy(fact_key).agg(
        F.min(
            F.struct(
                F.col("__dim_order").alias("o"), F.col("__dim_id").alias("i")
            )
        ).alias("__best"),
        *[F.first(c).alias(c) for c in other_cols],
    )
    keep = [c for c in fact.columns if not (drop_key and c == fact_key)]
    return out.select(*keep, F.col("__best")["i"].alias(out_col))


def fuzzy_containment_lookup_udf(
    fact: DataFrame,
    dim_rows: list[tuple],
    fact_text: str,
    out_col: str,
) -> DataFrame:
    """Exact-semantics fallback of J6: a Python UDF closing over the dim rows
    as ``(id, text)`` pairs in priority order — a direct, row-at-a-time
    mirror of ``get_field_id`` (``function_app.py:233-256``). Kept for
    differential testing of the theta-join version; never the scale path.
    """
    from pyspark.sql import types as T

    pairs = [(int(i), str(t).lower()) for i, t in dim_rows]

    @F.udf(T.IntegerType())
    def first_containing(s: str | None):
        if s is None:
            return None
        low = s.lower()
        for dim_id, text in pairs:
            if text in low:
                return dim_id
        return None

    return fact.withColumn(out_col, first_containing(F.col(fact_text)))
