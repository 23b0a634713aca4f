"""Remaining TPC-H composite shapes (Q2, Q9, Q11, Q15, Q16, Q20, Q21, Q22).

Completes the TPC-H coverage map started in ``advanced.py`` (Q1 lives in
``relational.agg_groupby_basic``; Q3-Q8, Q10, Q12-Q14, Q17-Q19 in
``advanced.py``). The fixture has no ``partsupp`` table and no
commit/receipt dates, so each query keeps the REFERENCE PLAN SHAPE (the
part being graded) with predicates adapted to the fixture schema:

- ``partsupp`` analog: ``SELECT DISTINCT l_partkey, l_suppkey FROM
  lineitem`` (the observed supplier-part relation), with ``s_acctbal``
  standing in for supply cost and shipped-quantity sums for availqty.
- ``c_phone`` country code analog: ``c_custkey % 10``.

Every query here is hash-oracled against DuckDB; the oracles use the
CLASSIC correlated/EXISTS formulations where the Spark side runs the
decorrelated join plan, so the correctness check also proves the
decorrelation is semantics-preserving.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from stream_processor_spark.queries.base import register
from stream_processor_spark.queries.relational import _dsum_sql, dsum

_PS_SQL = "SELECT DISTINCT l_partkey, l_suppkey FROM lineitem"


def _partsupp(t):
    """The partsupp analog: observed (part, supplier) pairs."""
    return t.lineitem.select("l_partkey", "l_suppkey").distinct()


@register(
    "tpch_q2_shape",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT s.s_acctbal, s.s_name, n.n_name, p.p_partkey, p.p_name,
           s.s_suppkey
    FROM part p, ps, supplier s, nation n, region r
    WHERE p.p_partkey = ps.l_partkey AND s.s_suppkey = ps.l_suppkey
      AND p.p_type = 'ECONOMY' AND p.p_size <= 15
      AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'ASIA'
      AND s.s_acctbal = (
        SELECT MIN(s2.s_acctbal)
        FROM ps ps2, supplier s2, nation n2, region r2
        WHERE ps2.l_partkey = p.p_partkey AND s2.s_suppkey = ps2.l_suppkey
          AND s2.s_nationkey = n2.n_nationkey
          AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'ASIA')
    ORDER BY s.s_acctbal DESC, p.p_partkey, s.s_suppkey
    LIMIT 100
    """,
)
def tpch_q2_shape(t):
    """TPC-H Q2 shape (min-cost supplier): a correlated MIN subquery
    decorrelated into an aggregate join — compute the per-part regional
    minimum once, join it back, keep suppliers AT the minimum. The
    oracle runs the classic correlated form, proving the rewrite.

    Scale notes: the partsupp analog aggregates lineitem down to the
    distinct pair set (partial combine, one shuffle); supplier/nation/
    region are broadcast; the min-aggregate and the equality join both
    key on partkey, so AQE reuses one exchange. No correlated per-row
    re-execution anywhere — the classic O(parts x partsupp) trap is
    gone. Equality on s_acctbal is raw-value comparison (no arithmetic),
    deterministic across engines."""
    p, s, n, r = t.part, t.supplier, t.nation, t.region
    regional = (
        _partsupp(t)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.filter(r.r_name == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
    )
    min_bal = regional.groupBy("l_partkey").agg(
        F.min("s_acctbal").alias("min_bal")
    )
    return (
        p.filter((p.p_type == "ECONOMY") & (p.p_size <= 15))
        .join(regional, p.p_partkey == F.col("l_partkey"))
        .join(min_bal, ["l_partkey"])
        .filter(F.col("s_acctbal") == F.col("min_bal"))
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_name",
                "s_suppkey")
        .orderBy(F.col("s_acctbal").desc(), "p_partkey", "s_suppkey")
        .limit(100)
    )


_Q9_ORACLE = f"""
    SELECT n.n_name AS nation,
           EXTRACT(YEAR FROM o.o_orderdate) AS o_year,
           {_dsum_sql(
               "l.l_extendedprice * (1 - l.l_discount)"
               " - 0.05 * (p.p_retailprice * l.l_quantity)", 4)}
             AS sum_profit
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey AND p.p_name LIKE '%widget%'
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    GROUP BY nation, o_year
    ORDER BY nation, o_year DESC
    """


@register("tpch_q9_shape", oracle=_Q9_ORACLE)
def tpch_q9_shape(t):
    """TPC-H Q9, TEACHING ENTRY (shuffle-era; the routed answer is `tpch_q9_bucketed`, 1.79x at sf10 r8 / 0.96x at sf100).

    Reclassified round 7 after the knob matrix exhausted the shuffle-era
    levers (docs/SF10_STRAGGLERS_r7.json); round 8 narrowed the exchange
    payload (~13% measured) but the residual ~3-4x vs DuckDB at sf10
    (docs/SF10_STRAGGLERS_r8.json) is the per-query fact-fact exchange
    plus JVM-vs-native parquet scan speed — the fact pipeline's bare
    scan alone costs more than DuckDB's whole query locally. The fix is
    the write-time bucketed layout (`Router("tpch_q9")` selects it
    automatically when built), not a runtime conf. AQE skew-join is a
    no-op here (uniform TPC-H keys); storage-partitioned join needs the
    bucketed relations this entry deliberately avoids.

    Product-type profit: multi-dim star join with a LIKE filter on the
    part name and a derived per-row profit measure (supply cost analog:
    5% of retail price x quantity), grouped by supplier nation x order
    year. The lineitem-orders Exchange is the measured sf100 cost;
    `tpch_q9_bucketed` runs the same body zero-Exchange on the
    co-bucketed layout at DuckDB parity.

    Scale notes: part (LIKE-filtered) and supplier broadcast; the only
    shuffle is lineitem-orders on orderkey plus the final 25x7-group
    aggregate (map-side collapse). Round-8 narrowing of that shuffle
    edge (measured ~13% at sf10): the fact side carries (orderkey,
    nationkey int, profit) — the 25-char nation NAME attaches to the
    175-row aggregate, never rides the exchange — the orders side
    carries (orderkey, year int) with the date already folded, and the
    join is hinted shuffled-hash (SMJ's two sorts buy nothing for a
    unique-key build). Round 9 moved the shuffle_hash hint to the FACT
    side so the hash table builds on the ~12.5% part-filtered rows and
    probes stream from full orders (was: build on 1.5M-per-sf orders)
    — warm sf10 2.37 -> 1.91 s. The residual >2x vs DuckDB is the
    scan floor, now PINNED with a same-day record
    (docs/SF10_Q9_FLOOR_r9.json): the bare
    JVM parquet scan of just this query's input columns costs ~1.9x
    DuckDB's ENTIRE query locally, so no shuffle-era plan can reach
    <=2x; the routed bucketed twin is the production answer. The profit
    expression is evaluated in one codegen stage with identical
    association order in both engines; the sum is fixed-point (dsum
    scale 4)."""
    p, s, o, l = t.part, t.supplier, t.orders, t.lineitem
    pw = p.filter(p.p_name.like("%widget%")).select(
        "p_partkey", "p_retailprice"
    )
    profit = F.col("l_extendedprice") * (1 - F.col("l_discount")) - F.lit(
        0.05
    ) * F.col("p_retailprice") * F.col("l_quantity")
    fact = (
        l.join(F.broadcast(pw), l.l_partkey == F.col("p_partkey"))
        .join(
            F.broadcast(s.select("s_suppkey", "s_nationkey")),
            l.l_suppkey == F.col("s_suppkey"),
        )
        .select(
            "l_orderkey",
            F.col("s_nationkey").cast("int").alias("nk"),
            profit.alias("profit"),
        )
    )
    ord2 = o.select(
        "o_orderkey", F.year("o_orderdate").cast("int").alias("yr")
    )
    agg = (
        fact.hint("shuffle_hash")
        .join(ord2, fact.l_orderkey == ord2.o_orderkey)
        .groupBy("nk", "yr")
        .agg(dsum(F.col("profit"), 4).alias("sum_profit"))
    )
    return (
        agg.join(
            F.broadcast(t.nation.select("n_nationkey", "n_name")),
            F.col("nk") == F.col("n_nationkey"),
        )
        .select(
            F.col("n_name").alias("nation"),
            F.col("yr").cast("long").alias("o_year"),
            "sum_profit",
        )
        .orderBy("nation", F.col("o_year").desc())
    )


def _q9_from(l, o, t, merge_hint: bool = False):
    """Q9 body over any (lineitem, orders) pair (raw or bucketed).
    ``merge_hint`` pins the fact edge to the exchange-free sort-merge on
    the bucketed layout (see `join_bucketed` for why)."""
    p, s, n = t.part, t.supplier, t.nation
    profit = l.l_extendedprice * (1 - l.l_discount) - F.lit(0.05) * (
        p.p_retailprice * l.l_quantity
    )
    return (
        l.join(
            F.broadcast(p.filter(p.p_name.like("%widget%"))),
            l.l_partkey == p.p_partkey,
        )
        .join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(o.hint("merge") if merge_hint else o,
              l.l_orderkey == o.o_orderkey)
        .groupBy(
            n.n_name.alias("nation"),
            F.year(o.o_orderdate).cast("long").alias("o_year"),
        )
        .agg(dsum(profit, 4).alias("sum_profit"))
        .orderBy("nation", F.col("o_year").desc())
    )


@register(
    "tpch_q11_shape",
    oracle=f"""
    WITH scoped AS (
      SELECT l.l_partkey, l.l_extendedprice
      FROM lineitem l, supplier s, nation n
      WHERE s.s_suppkey = l.l_suppkey AND n.n_nationkey = s.s_nationkey
        AND n.n_regionkey = 3
    )
    SELECT l_partkey, {_dsum_sql("l_extendedprice")} AS part_value
    FROM scoped
    GROUP BY l_partkey
    HAVING {_dsum_sql("l_extendedprice")} >
      (SELECT {_dsum_sql("l_extendedprice")} * 0.001 FROM scoped)
    ORDER BY part_value DESC, l_partkey
    """,
)
def tpch_q11_shape(t):
    """TPC-H Q11 shape (important stock): per-part value within a
    supplier region, kept only when it exceeds a FRACTION OF THE GLOBAL
    TOTAL — a HAVING over a scalar subquery. Decorrelated as: aggregate
    once per part, aggregate once globally (1 row, broadcast), cross-join
    the scalar in and filter.

    Scale notes: the scoped slice is computed once per side but both
    aggregations are partial-combine over the same shuffle key layout;
    the global total moves 1 row. Values are fixed-point cents, so the
    0.001-fraction threshold compares exact doubles identically in both
    engines."""
    l, s, n = t.lineitem, t.supplier, t.nation
    scoped = (
        l.join(F.broadcast(s), l.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n.filter(n.n_regionkey == 3)),
              s.s_nationkey == n.n_nationkey)
        .select("l_partkey", "l_extendedprice")
    )
    per_part = scoped.groupBy("l_partkey").agg(
        dsum(F.col("l_extendedprice")).alias("part_value")
    )
    total = scoped.agg(
        (dsum(F.col("l_extendedprice")) * F.lit(0.001)).alias("threshold")
    )
    return (
        per_part.crossJoin(F.broadcast(total))
        .filter(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.col("part_value").desc(), "l_partkey")
    )


@register(
    "tpch_q15_shape",
    oracle=f"""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             {_dsum_sql("l_extendedprice * (1 - l_discount)", 6)}
               AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate < TIMESTAMP '1996-04-01 00:00:00'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, r.total_revenue
    FROM supplier s JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q15_shape(t):
    """TPC-H Q15 shape (top supplier): revenue view over a quarter, then
    select the supplier(s) AT the maximum — a scalar MAX subquery over a
    derived aggregate, decorrelated to a broadcast 1-row cross join.

    Scale notes: one lineitem scan with the date filter pushed down; the
    revenue aggregate is supplier-cardinality; the MAX re-aggregates the
    small view (AQE reuses the exchange), moves 1 row, and the equality
    is exact on fixed-point revenue — ties return all max suppliers in
    both engines identically."""
    l, s = t.lineitem, t.supplier
    revenue = (
        l.filter(
            (l.l_shipdate >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (l.l_shipdate < F.lit("1996-04-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(l.l_extendedprice * (1 - l.l_discount), 6)
             .alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_rev"))
    return (
        s.join(revenue, s.s_suppkey == F.col("supplier_no"))
        .crossJoin(F.broadcast(max_rev))
        .filter(F.col("total_revenue") == F.col("max_rev"))
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


@register(
    "tpch_q16_shape",
    oracle=f"""
    WITH ps AS ({_PS_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           COUNT(DISTINCT ps.l_suppkey) AS supplier_cnt
    FROM ps JOIN part p ON p.p_partkey = ps.l_partkey
    WHERE p.p_brand <> 'Brand#3' AND p.p_type <> 'ECONOMY'
      AND p.p_size IN (5, 11, 17, 23, 29, 35, 41, 47)
      AND ps.l_suppkey NOT IN
        (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
    """,
)
def tpch_q16_shape(t):
    """TPC-H Q16 shape (parts/supplier relationship): distinct-supplier
    counts per (brand, type, size) bucket, EXCLUDING a blacklist of
    suppliers (complaint analog: negative account balance) — NOT IN
    decorrelated to a broadcast LEFT ANTI join.

    Scale notes: the blacklist is tiny -> broadcast anti join (no
    shuffle); part is broadcast; countDistinct plans the standard
    two-phase Expand over one shuffle of the distinct pair set. NOT IN's
    NULL trap does not arise (s_suppkey is non-null by construction);
    the anti join is the NULL-safe rewrite regardless."""
    p, s = t.part, t.supplier
    bad = s.filter(s.s_acctbal < 0).select("s_suppkey")
    return (
        _partsupp(t)
        .join(
            F.broadcast(
                p.filter(
                    (p.p_brand != "Brand#3")
                    & (p.p_type != "ECONOMY")
                    & p.p_size.isin(5, 11, 17, 23, 29, 35, 41, 47)
                )
            ),
            F.col("l_partkey") == p.p_partkey,
        )
        .join(F.broadcast(bad), F.col("l_suppkey") == F.col("s_suppkey"),
              "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
    )


@register(
    "tpch_q20_shape",
    oracle=f"""
    SELECT s.s_suppkey, s.s_name
    FROM supplier s, nation n, region r
    WHERE s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
      AND r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l
        WHERE l.l_partkey IN
            (SELECT p_partkey FROM part WHERE p_name LIKE '%bolt%')
          AND l.l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
          AND l.l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
        GROUP BY l.l_partkey, l.l_suppkey
        HAVING {_dsum_sql("l_quantity")} > 50)
    ORDER BY s.s_suppkey
    """,
)
def tpch_q20_shape(t):
    """TPC-H Q20 shape (potential part promotion): nested IN subqueries
    with a correlated HAVING — suppliers in a region who shipped more
    than a quantity threshold of a name-matched part in one year.
    Decorrelated: part filter -> broadcast semi join, per-(part,supplier)
    quantity aggregate -> HAVING filter -> semi join up to suppliers.

    Scale notes: the date + part filters prune lineitem before the only
    shuffle (the pair aggregate, partial combine); both IN subqueries
    become semi joins (the part list broadcast, the qualifying supplier
    set is supplier-cardinality). Region dims broadcast."""
    l, p, s, n, r = t.lineitem, t.part, t.supplier, t.nation, t.region
    bolt_parts = p.filter(p.p_name.like("%bolt%")).select("p_partkey")
    qualifying = (
        l.filter(
            (l.l_shipdate >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (l.l_shipdate < F.lit("1997-01-01 00:00:00").cast("timestamp"))
        )
        .join(F.broadcast(bolt_parts), l.l_partkey == F.col("p_partkey"),
              "left_semi")
        .groupBy("l_partkey", "l_suppkey")
        .agg(dsum(F.col("l_quantity")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(r.r_name == "EUROPE")),
              n.n_regionkey == r.r_regionkey)
        .join(qualifying, s.s_suppkey == F.col("l_suppkey"), "left_semi")
        .select("s_suppkey", "s_name")
        .orderBy("s_suppkey")
    )


_Q21_ORACLE = """
    SELECT s.s_suppkey, s.s_name,
           COUNT(DISTINCT l1.l_orderkey) AS numwait
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
                 AND r.r_name = 'MIDDLE EAST'
    JOIN lineitem l1 ON l1.l_suppkey = s.s_suppkey
                    AND l1.l_returnflag = 'R'
    JOIN orders o ON o.o_orderkey = l1.l_orderkey
                 AND o.o_orderstatus = 'F'
    WHERE EXISTS (
        SELECT 1 FROM lineitem l2
        WHERE l2.l_orderkey = l1.l_orderkey
          AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (
        SELECT 1 FROM lineitem l3
        WHERE l3.l_orderkey = l1.l_orderkey
          AND l3.l_suppkey <> l1.l_suppkey
          AND l3.l_returnflag = 'R')
    GROUP BY s.s_suppkey, s.s_name
    ORDER BY numwait DESC, s.s_suppkey
    LIMIT 25
    """


@register("tpch_q21_shape", oracle=_Q21_ORACLE)
def tpch_q21_shape(t):
    """TPC-H Q21, TEACHING ENTRY (shuffle-era; the routed answer is `tpch_q21_bucketed`, 1.27x at sf10 r8).

    Reclassified round 7 after the knob matrix exhausted the shuffle-era
    levers (docs/SF10_STRAGGLERS_r7.json); the round-8 rework (narrowed
    fact projection via `_q21_narrow` + shuffled-hash semi) brought the
    layout-free plan from 3.44x to 2.93x DuckDB at sf10
    (docs/SF10_STRAGGLERS_r8.json) — the residual is the one fact
    exchange this plan exists to demonstrate; the co-bucketed twin
    replaces it with zero-Exchange merge joins (`Router("tpch_q21")`
    selects it when the layout exists). AQE skew-join is a no-op
    (uniform keys).

    Suppliers who kept orders waiting: the classic
    EXISTS + NOT-EXISTS self-join pair on lineitem, decorrelated into
    ONE per-order aggregate of O(1)-state min/max facts:
    EXISTS(another supplier) == min(suppkey) != max(suppkey);
    NOT EXISTS(another 'R' supplier) == the conditional min and max of
    R-suppliers coincide — and that sole R-supplier IS the waiting
    supplier, so no probe-side lineitem join is needed at all. The
    oracle runs the classic doubly-correlated form, proving the rewrite.

    Scale notes (all measured at sf10, 60M lineitem): the naive plan
    re-scans lineitem per probe row; a two-countDistinct aggregate
    Expands the fact table 2x (30 s); a pair-dedup cascade aggregates
    45M groups, so partial combine cannot collapse (14 s). This form —
    semi join lineitem to the filtered 'F' orders FIRST (valid because
    the EXISTS facts correlate per order and non-F orders never reach
    the output), then ONE aggregate with 4 longs of state per order
    whose input reuses the join's orderkey partitioning — runs ~4.5 s.
    `tpch_q21_bucketed` is the write-time-layout answer (zero-exchange
    streaming aggregate over the orderkey-bucketed table: 1.1 s,
    DuckDB-class). The general lesson is encoded here deliberately:
    decorrelate EXISTS into BOUNDED-STATE aggregates (min/max/bool),
    never distinct counts."""
    return _q21_from(t.lineitem, t)


def _q21_semi_f_orders(frame, t, join_hint: str | None = None):
    """Keep only rows of orders with status 'F' (semi join on orderkey).
    ``join_hint``: 'shuffle_hash' for the layout-free plan (the 'F'
    filter passes ~half the order keys — far too many for a broadcast,
    and SMJ pays a sort neither side needs for a semi probe), 'merge'
    for the co-bucketed layout (exchange-free on both sides)."""
    o = t.orders
    fo = o.filter(o.o_orderstatus == "F").select("o_orderkey")
    if join_hint:
        fo = fo.hint(join_hint)
    return frame.join(
        fo, F.col("l_orderkey") == F.col("o_orderkey"), "left_semi"
    )


def _q21_narrow(lineitem_frame):
    """Pre-shuffle projection of the only three facts Q21 needs, in the
    narrowest codegen-friendly encoding: suppkey as int32 (TPC-H
    suppkey = 10k x SF — int covers every practical scale factor) and
    the returnflag as ONE boolean instead of a shuffled string. At sf10
    this cut the semi join's fact-side exchange payload ~40% (measured
    5.9 -> 4.2 s with the SHJ semi). A projection never disturbs an
    existing (bucketed) distribution on l_orderkey."""
    return lineitem_frame.select(
        "l_orderkey",
        F.col("l_suppkey").cast("int").alias("supp"),
        (F.col("l_returnflag") == "R").alias("is_r"),
    )


def _q21_waiting(narrow_frame):
    """Per-order bounded-state existence facts -> (l_orderkey,
    wait_suppkey) for orders with >=2 suppliers and exactly one
    R-supplier (who is the waiting supplier). Input is the
    `_q21_narrow` projection."""
    r_supp = F.when(F.col("is_r"), F.col("supp"))
    return (
        narrow_frame.groupBy("l_orderkey")
        .agg(
            F.min("supp").alias("min_s"),
            F.max("supp").alias("max_s"),
            F.min(r_supp).alias("min_r"),
            F.max(r_supp).alias("max_r"),
        )
        .filter(
            (F.col("min_s") != F.col("max_s"))
            & F.col("min_r").isNotNull()
            & (F.col("min_r") == F.col("max_r"))
        )
        .select(
            "l_orderkey", F.col("min_r").cast("long").alias("wait_suppkey")
        )
    )


def _q21_report(waiting, t):
    """Count waiting orders per supplier, attach region-filtered dims."""
    s, n, r = t.supplier, t.nation, t.region
    return (
        waiting.groupBy("wait_suppkey")
        .agg(F.count(F.lit(1)).alias("numwait"))  # one row per order
        .join(F.broadcast(s), F.col("wait_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r.filter(r.r_name == "MIDDLE EAST")),
              n.n_regionkey == r.r_regionkey)
        .select("s_suppkey", "s_name", "numwait")
        .orderBy(F.col("numwait").desc(), "s_suppkey")
        .limit(25)
    )


def _q21_from(lineitem, t):
    """Portable Q21 body: narrow the fact projection, semi join to 'F'
    orders FIRST (pre-shrinks the aggregate's shuffle; shuffled-hash —
    a semi probe never needs SMJ's sorts), then the bounded-state
    facts."""
    pre = _q21_semi_f_orders(_q21_narrow(lineitem), t, join_hint="shuffle_hash")
    return _q21_report(_q21_waiting(pre), t)


@register(
    "tpch_q22_shape",
    oracle=f"""
    WITH avg_bal AS (
      SELECT {_dsum_sql("c_acctbal")} / COUNT(*) AS threshold
      FROM customer WHERE c_acctbal > 0.0
    )
    SELECT c.c_custkey % 10 AS cntrycode,
           COUNT(*) AS numcust,
           {_dsum_sql("c.c_acctbal")} AS totacctbal
    FROM customer c, avg_bal
    WHERE c.c_custkey % 10 IN (1, 3, 5, 7, 9)
      AND c.c_acctbal > avg_bal.threshold
      AND NOT EXISTS (
        SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2000-07-01 00:00:00')
    GROUP BY cntrycode
    ORDER BY cntrycode
    """,
)
def tpch_q22_shape(t):
    """TPC-H Q22 shape (global sales opportunity): customers above the
    positive-balance average (scalar subquery) with NO RECENT orders
    (NOT EXISTS -> left anti join; the fixture's order table covers
    every customer, so "no orders since mid-2000" stands in for "no
    orders" — same plan shape, non-empty result), bucketed by country
    code (fixture analog: custkey mod 10).

    Scale notes: the average is a 1-row broadcast (dsum/count — exact,
    so the threshold comparison is engine-stable); the anti join
    shuffles only the filtered customer slice against the projected
    orders keys; the final aggregate has 5 groups. At 100 TB the anti
    join is the cost center and is already key-pruned both sides."""
    c, o = t.customer, t.orders
    threshold = c.filter(c.c_acctbal > 0.0).agg(
        (dsum(F.col("c_acctbal")) / F.count(F.lit(1))).alias("threshold")
    )
    return (
        c.filter((c.c_custkey % 10).isin(1, 3, 5, 7, 9))
        .crossJoin(F.broadcast(threshold))
        .filter(c.c_acctbal > F.col("threshold"))
        .join(
            o.filter(
                o.o_orderdate
                >= F.lit("2000-07-01 00:00:00").cast("timestamp")
            ).select("o_custkey"),
            c.c_custkey == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy((c.c_custkey % 10).alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("cntrycode")
    )


@register("tpch_q21_bucketed", oracle=_Q21_ORACLE)
def tpch_q21_bucketed(t):
    """`tpch_q21_shape` on the write-time-bucketed layout (same oracle,
    same min/max decorrelation): lineitem read bucketed+sorted on
    l_orderkey, so the per-order existence aggregate needs ZERO Exchange
    and streams over sorted groups with no hash table — measured at sf10
    the aggregate drops 6.6 s -> 1.1 s, putting the whole query in
    DuckDB's band. The same one-layout-many-queries amortization as
    `join_bucketed`/`join_star_3way_bucketed`: Q21, the fact-fact joins
    and every other orderkey aggregate share the bucket write.

    Note the JOIN ORDER flips with the layout: the portable plan semi
    joins to 'F' orders BEFORE aggregating (the join pre-shrinks the
    aggregate's shuffle); here the aggregate is exchange-free, so it
    runs FIRST and only the few qualifying orders then semi join —
    against the BUCKETED orders with a merge hint, because the 'F'
    filter still passes ~half the order keys (~3M at sf10) and
    broadcasting them costs a single-threaded driver hash build
    (measured 3.4 s end-to-end with the broadcast vs 1.9 s co-bucketed;
    the round-6 sf10 record caught AQE picking the broadcast). The
    waiting frame inherits lineitem's bucket distribution through the
    aggregate, so the semi join needs zero Exchange on either side."""
    from stream_processor_spark.operators.storage import bucketed_pair

    li, o = bucketed_pair(t._spark, t._dir)
    # agg-first: exchange-free over the bucketed layout; qualifying
    # orders semi join the co-bucketed 'F' orders (merge, not broadcast)
    waiting = _q21_waiting(_q21_narrow(li)).join(
        o.filter(o.o_orderstatus == "F").select("o_orderkey").hint("merge"),
        F.col("l_orderkey") == F.col("o_orderkey"),
        "left_semi",
    )
    return _q21_report(waiting, t)


@register("tpch_q9_bucketed", oracle=_Q9_ORACLE)
def tpch_q9_bucketed(t):
    """`tpch_q9_shape` on the bucketed layout: the one shuffle edge in
    Q9 is lineitem-orders on orderkey — exactly the pair `bucketed_pair`
    persists bucketed+sorted, so the merge-hinted fact edge joins with
    ZERO Exchange and the broadcast dims attach as before. Same oracle
    as the portable plan (the layout must not change the answer)."""
    from stream_processor_spark.operators.storage import bucketed_pair

    li, o = bucketed_pair(t._spark, t._dir)
    return _q9_from(li, o, t, merge_hint=True)
