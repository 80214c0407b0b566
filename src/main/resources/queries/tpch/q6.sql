-- TPC-H query 6: the text of DuckDB 1.0.0's tpch_queries().
-- Deviations, the same for both engines:
--   - The ship-date year 1994 becomes 1995: ref_q6 runs this text over the
--     TPC-H-ish testdata too, whose orders start 1995-01-01, and there the
--     kit's year sums nothing (a NULL revenue).
SELECT
    sum(l_extendedprice * l_discount) AS revenue
FROM
    lineitem
WHERE
    l_shipdate >= CAST('1995-01-01' AS date)
    AND l_shipdate < CAST('1996-01-01' AS date)
    AND l_discount BETWEEN 0.05
    AND 0.07
    AND l_quantity < 24;
