-- TPC-H query 12: the text of DuckDB 1.0.0's tpch_queries().
-- Deviations, the same for both engines:
--   - An outer SELECT casts high_line_count, low_line_count to BIGINT:
--     DuckDB widens sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans,
--     and on Spark the cast is a no-op.
select l_shipmode, cast(high_line_count as bigint) as high_line_count, cast(low_line_count as bigint) as low_line_count
from (
SELECT
    l_shipmode,
    sum(
        CASE WHEN o_orderpriority = '1-URGENT'
            OR o_orderpriority = '2-HIGH' THEN
            1
        ELSE
            0
        END) AS high_line_count,
    sum(
        CASE WHEN o_orderpriority <> '1-URGENT'
            AND o_orderpriority <> '2-HIGH' THEN
            1
        ELSE
            0
        END) AS low_line_count
FROM
    orders,
    lineitem
WHERE
    o_orderkey = l_orderkey
    AND l_shipmode IN ('MAIL', 'SHIP')
    AND l_commitdate < l_receiptdate
    AND l_shipdate < l_commitdate
    AND l_receiptdate >= CAST('1994-01-01' AS date)
    AND l_receiptdate < CAST('1995-01-01' AS date)
GROUP BY
    l_shipmode
ORDER BY
    l_shipmode
) graft_cast;
