-- TPC-DS query 43: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - gmt_offset -5/-7 becomes -500: every generated offset is -500 cents.
--   - An outer SELECT casts sun_sales, mon_sales, tue_sales, wed_sales,
--     thu_sales, fri_sales, sat_sales to BIGINT: DuckDB widens
--     sum(INTEGER/BIGINT) to HUGEINT, which the hasher bans, and on Spark
--     the cast is a no-op.
select s_store_name, s_store_id, cast(sun_sales as bigint) as sun_sales, cast(mon_sales as bigint) as mon_sales, cast(tue_sales as bigint) as tue_sales, cast(wed_sales as bigint) as wed_sales, cast(thu_sales as bigint) as thu_sales, cast(fri_sales as bigint) as fri_sales, cast(sat_sales as bigint) as sat_sales
from (
SELECT s_store_name,
       s_store_id,
       sum(CASE
               WHEN (d_day_name='Sunday') THEN ss_sales_price
               ELSE NULL
           END) sun_sales,
       sum(CASE
               WHEN (d_day_name='Monday') THEN ss_sales_price
               ELSE NULL
           END) mon_sales,
       sum(CASE
               WHEN (d_day_name='Tuesday') THEN ss_sales_price
               ELSE NULL
           END) tue_sales,
       sum(CASE
               WHEN (d_day_name='Wednesday') THEN ss_sales_price
               ELSE NULL
           END) wed_sales,
       sum(CASE
               WHEN (d_day_name='Thursday') THEN ss_sales_price
               ELSE NULL
           END) thu_sales,
       sum(CASE
               WHEN (d_day_name='Friday') THEN ss_sales_price
               ELSE NULL
           END) fri_sales,
       sum(CASE
               WHEN (d_day_name='Saturday') THEN ss_sales_price
               ELSE NULL
           END) sat_sales
FROM date_dim,
     store_sales,
     store
WHERE d_date_sk = ss_sold_date_sk
  AND s_store_sk = ss_store_sk
  AND s_gmt_offset = -500
  AND d_year = 2000
GROUP BY s_store_name,
         s_store_id
ORDER BY s_store_name,
         s_store_id,
         sun_sales,
         mon_sales,
         tue_sales,
         wed_sales,
         thu_sales,
         fri_sales,
         sat_sales
LIMIT 100
) graft_cast;
