-- TPC-DS query 28: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - Money literals scale x100: the generated money columns are BIGINT
--     cents.
SELECT *
FROM
  (SELECT avg(ss_list_price) B1_LP,
          count(ss_list_price) B1_CNT,
          count(DISTINCT ss_list_price) B1_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 0 AND 5
     AND (ss_list_price BETWEEN 800 AND 800+1000
          OR ss_coupon_amt BETWEEN 45900 AND 45900+100000
          OR ss_wholesale_cost BETWEEN 5700 AND 5700+2000)) B1,
  (SELECT avg(ss_list_price) B2_LP,
          count(ss_list_price) B2_CNT,
          count(DISTINCT ss_list_price) B2_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 6 AND 10
     AND (ss_list_price BETWEEN 9000 AND 9000+1000
          OR ss_coupon_amt BETWEEN 232300 AND 232300+100000
          OR ss_wholesale_cost BETWEEN 3100 AND 3100+2000)) B2,
  (SELECT avg(ss_list_price) B3_LP,
          count(ss_list_price) B3_CNT,
          count(DISTINCT ss_list_price) B3_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 11 AND 15
     AND (ss_list_price BETWEEN 14200 AND 14200+1000
          OR ss_coupon_amt BETWEEN 1221400 AND 1221400+100000
          OR ss_wholesale_cost BETWEEN 7900 AND 7900+2000)) B3,
  (SELECT avg(ss_list_price) B4_LP,
          count(ss_list_price) B4_CNT,
          count(DISTINCT ss_list_price) B4_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 16 AND 20
     AND (ss_list_price BETWEEN 13500 AND 13500+1000
          OR ss_coupon_amt BETWEEN 607100 AND 607100+100000
          OR ss_wholesale_cost BETWEEN 3800 AND 3800+2000)) B4,
  (SELECT avg(ss_list_price) B5_LP,
          count(ss_list_price) B5_CNT,
          count(DISTINCT ss_list_price) B5_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 21 AND 25
     AND (ss_list_price BETWEEN 12200 AND 12200+1000
          OR ss_coupon_amt BETWEEN 83600 AND 83600+100000
          OR ss_wholesale_cost BETWEEN 1700 AND 1700+2000)) B5,
  (SELECT avg(ss_list_price) B6_LP,
          count(ss_list_price) B6_CNT,
          count(DISTINCT ss_list_price) B6_CNTD
   FROM store_sales
   WHERE ss_quantity BETWEEN 26 AND 30
     AND (ss_list_price BETWEEN 15400 AND 15400+1000
          OR ss_coupon_amt BETWEEN 732600 AND 732600+100000
          OR ss_wholesale_cost BETWEEN 700 AND 700+2000)) B6
LIMIT 100;
