-- TPC-DS query 98: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - DECIMAL literals and casts become DOUBLE: Spark keeps a DECIMAL
--     through the division, and the hasher bans DECIMAL outputs.
--   - An outer SELECT casts itemrevenue to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select i_item_id, i_item_desc, i_category, i_class, i_current_price, cast(itemrevenue as bigint) as itemrevenue, revenueratio
from (
SELECT i_item_id ,
       i_item_desc,
       i_category,
       i_class,
       i_current_price ,
       sum(ss_ext_sales_price) AS itemrevenue,
       sum(ss_ext_sales_price)*100.0e0/sum(sum(ss_ext_sales_price)) OVER (PARTITION BY i_class) AS revenueratio
FROM store_sales ,
     item,
     date_dim
WHERE ss_item_sk = i_item_sk
  AND i_category IN ('Sports',
                     'Books',
                     'Home')
  AND ss_sold_date_sk = d_date_sk
  AND d_date BETWEEN cast('1999-02-22' AS date) AND cast('1999-03-24' AS date)
GROUP BY i_item_id ,
         i_item_desc,
         i_category ,
         i_class ,
         i_current_price
ORDER BY i_category  NULLS FIRST,
         i_class  NULLS FIRST,
         i_item_id  NULLS FIRST,
         i_item_desc  NULLS FIRST,
         revenueratio NULLS FIRST
) graft_cast;
