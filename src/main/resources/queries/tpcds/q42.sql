-- TPC-DS query 42: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Unnamed outputs get aliases: the oracle compare matches columns by
--     name.
--   - An outer SELECT casts sum_sales to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select d_year, i_category_id, i_category, cast(sum_sales as bigint) as sum_sales
from (
SELECT dt.d_year,
       item.i_category_id,
       item.i_category,
       sum(ss_ext_sales_price) AS sum_sales
FROM date_dim dt,
     store_sales,
     item
WHERE dt.d_date_sk = store_sales.ss_sold_date_sk
  AND store_sales.ss_item_sk = item.i_item_sk
  AND item.i_manager_id = 1
  AND dt.d_moy=11
  AND dt.d_year=2000
GROUP BY dt.d_year,
         item.i_category_id,
         item.i_category
ORDER BY sum(ss_ext_sales_price) DESC,dt.d_year,
                                      item.i_category_id,
                                      item.i_category
LIMIT 100
) graft_cast;
