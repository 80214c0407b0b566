WITH date_dim AS MATERIALIZED (
  SELECT id AS d_date_sk,
    'x' || CAST((id + 1) % 53 AS STRING) AS d_date_id,
    CAST('1998-01-01' AS DATE) + CAST(id AS INT) AS d_date,
    CAST((year(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) - 1900) * 12 + month(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) - 1 AS INT) AS d_month_seq,
    CAST(CAST(floor((id)/7) AS BIGINT) AS INT) AS d_week_seq,
    CAST((id * 13 + 5) % 101 AS INT) AS d_quarter_seq,
    CAST(year(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) AS INT) AS d_year,
    CAST((id + 4) % 7 AS INT) AS d_dow,
    CAST(month(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) AS INT) AS d_moy,
    CAST(day(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) AS INT) AS d_dom,
    CAST(CAST(floor((month(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) - 1)/3) AS BIGINT) + 1 AS INT) AS d_qoy,
    CAST((id * 13 + 11) % 101 AS INT) AS d_fy_year,
    CAST((id * 13 + 12) % 101 AS INT) AS d_fy_quarter_seq,
    CAST((id * 13 + 13) % 101 AS INT) AS d_fy_week_seq,
    CASE CAST((id + 4) % 7 AS INT) WHEN 0 THEN 'Sunday' WHEN 1 THEN 'Monday' WHEN 2 THEN 'Tuesday' WHEN 3 THEN 'Wednesday' WHEN 4 THEN 'Thursday' WHEN 5 THEN 'Friday' WHEN 6 THEN 'Saturday' END AS d_day_name,
    CAST(year(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) AS STRING) || 'Q' || CAST(CAST(floor((month(CAST('1998-01-01' AS DATE) + CAST(id AS INT)) - 1)/3) AS BIGINT) + 1 AS STRING) AS d_quarter_name,
    'x' || CAST((id + 16) % 53 AS STRING) AS d_holiday,
    'x' || CAST((id + 17) % 53 AS STRING) AS d_weekend,
    'x' || CAST((id + 18) % 53 AS STRING) AS d_following_holiday,
    CAST((id * 13 + 19) % 101 AS INT) AS d_first_dom,
    CAST((id * 13 + 20) % 101 AS INT) AS d_last_dom,
    CAST((id * 13 + 21) % 101 AS INT) AS d_same_day_ly,
    CAST((id * 13 + 22) % 101 AS INT) AS d_same_day_lq,
    'x' || CAST((id + 23) % 53 AS STRING) AS d_current_day,
    'x' || CAST((id + 24) % 53 AS STRING) AS d_current_week,
    'x' || CAST((id + 25) % 53 AS STRING) AS d_current_month,
    'x' || CAST((id + 26) % 53 AS STRING) AS d_current_quarter,
    'x' || CAST((id + 27) % 53 AS STRING) AS d_current_year
  FROM (SELECT range AS id FROM range(2191))),
item AS MATERIALIZED (
  SELECT id AS i_item_sk,
    'ITEM_' || lpad(CAST(id AS STRING), 6, '0') AS i_item_id,
    CAST('1998-01-01' AS DATE) + CAST((id * 11 + 2) % 2191 AS INT) AS i_rec_start_date,
    CAST('1998-01-01' AS DATE) + CAST((id * 11 + 3) % 2191 AS INT) AS i_rec_end_date,
    'desc of item ' || CAST(id AS STRING) AS i_item_desc,
    100 + (id * 7919) % 9900 AS i_current_price,
    (id * 31 + 6 * 7) % 10000 AS i_wholesale_cost,
    CAST((id % 9) * 10 + CAST(floor((id)/9) AS BIGINT) % 2 AS INT) AS i_brand_id,
    CASE CAST(id % 9 AS INT) WHEN 0 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'scholaramalgamalg #14' WHEN 1 THEN 'scholaramalgamalg #7' END WHEN 1 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'exportiunivamalg #9' WHEN 1 THEN 'childbrand #2' END WHEN 2 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'scholaramalgamalg #9' WHEN 1 THEN 'electrobrand #4' END WHEN 3 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'importoamalg #1' WHEN 1 THEN 'menbrand #6' END WHEN 4 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'sportbrand #3' WHEN 1 THEN 'fieldbrand #8' END WHEN 5 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'shoebrand #5' WHEN 1 THEN 'trackbrand #2' END WHEN 6 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'amalgimporto #1' WHEN 1 THEN 'womenbrand #4' END WHEN 7 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'edu packscholar #1' WHEN 1 THEN 'exportiimporto #1' END WHEN 8 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 2 AS INT) WHEN 0 THEN 'jewelbrand #7' WHEN 1 THEN 'gembrand #1' END END AS i_brand,
    CAST((id % 9) * 4 + CAST(floor((id)/9) AS BIGINT) % 4 AS INT) AS i_class_id,
    CASE CAST(id % 9 AS INT) WHEN 0 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'personal' WHEN 1 THEN 'reference' WHEN 2 THEN 'history' WHEN 3 THEN 'arts' END WHEN 1 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'portable' WHEN 1 THEN 'school-uniforms' WHEN 2 THEN 'toddlers' WHEN 3 THEN 'newborn' END WHEN 2 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'self-help' WHEN 1 THEN 'audio' WHEN 2 THEN 'cameras' WHEN 3 THEN 'dvd' END WHEN 3 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'pants' WHEN 1 THEN 'shirts' WHEN 2 THEN 'accessories' WHEN 3 THEN 'casual' END WHEN 4 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'tennis' WHEN 1 THEN 'baseball' WHEN 2 THEN 'fitness' WHEN 3 THEN 'camping' END WHEN 5 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'womens' WHEN 1 THEN 'mens' WHEN 2 THEN 'kids' WHEN 3 THEN 'athletic' END WHEN 6 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'fragrances' WHEN 1 THEN 'dresses' WHEN 2 THEN 'maternity' WHEN 3 THEN 'swimwear' END WHEN 7 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'classical' WHEN 1 THEN 'rock' WHEN 2 THEN 'pop' WHEN 3 THEN 'country' END WHEN 8 THEN CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'birdal' WHEN 1 THEN 'diamonds' WHEN 2 THEN 'gold' WHEN 3 THEN 'pendants' END END AS i_class,
    CAST(id % 9 + 1 AS INT) AS i_category_id,
    CASE CAST(id % 9 AS INT) WHEN 0 THEN 'Books' WHEN 1 THEN 'Children' WHEN 2 THEN 'Electronics' WHEN 3 THEN 'Men' WHEN 4 THEN 'Sports' WHEN 5 THEN 'Shoes' WHEN 6 THEN 'Women' WHEN 7 THEN 'Music' WHEN 8 THEN 'Jewelry' END AS i_category,
    CAST(id % 900 AS INT) AS i_manufact_id,
    'manu_' || CAST(id % 200 AS STRING) AS i_manufact,
    CASE CAST(CAST(floor((id)/9) AS BIGINT) % 4 AS INT) WHEN 0 THEN 'economy' WHEN 1 THEN 'small' WHEN 2 THEN 'petite' WHEN 3 THEN 'large' END AS i_size,
    'x' || CAST((id + 16) % 53 AS STRING) AS i_formulation,
    CASE CAST(CAST(floor((id)/9) AS BIGINT) % 8 AS INT) WHEN 0 THEN 'forest' WHEN 1 THEN 'lime' WHEN 2 THEN 'navy' WHEN 3 THEN 'slate' WHEN 4 THEN 'powder' WHEN 5 THEN 'sky' WHEN 6 THEN 'maroon' WHEN 7 THEN 'smoke' END AS i_color,
    CASE CAST(CAST(floor((id)/9) AS BIGINT) % 8 AS INT) WHEN 0 THEN 'Pallet' WHEN 1 THEN 'Pound' WHEN 2 THEN 'Gross' WHEN 3 THEN 'Bunch' WHEN 4 THEN 'Dozen' WHEN 5 THEN 'Lb' WHEN 6 THEN 'Ounce' WHEN 7 THEN 'Case' END AS i_units,
    'x' || CAST((id + 19) % 53 AS STRING) AS i_container,
    CAST(id % 100 AS INT) AS i_manager_id,
    'product_' || lpad(CAST(id AS STRING), 6, '0') AS i_product_name
  FROM (SELECT range AS id FROM range(1000))),
store_sales AS MATERIALIZED (
  SELECT CASE WHEN (id % 1000) % 11 = 4 AND (id % 1000) % 5 <> 0 AND CAST(floor((id)/1000) AS BIGINT) % 60 = 3 THEN 1260 + (id % 1000) % 7 ELSE (CAST(floor((id)/18) AS BIGINT) * 37 + 11) % 2191 END AS ss_sold_date_sk,
    (id * 1021 + 7) % 1440 AS ss_sold_time_sk,
    id % 1000 AS ss_item_sk,
    CASE WHEN CAST(floor((id)/18) AS BIGINT) % 10 = 3 THEN CAST(floor((CAST(floor((id)/18) AS BIGINT))/10) AS BIGINT) % 20 WHEN CAST(floor((id)/18) AS BIGINT) % 20 = 7 THEN NULL ELSE ((CAST(floor((id)/18) AS BIGINT) * 37 + 11) % 2191 * 53 + 9 + CAST(floor((id)/18) AS BIGINT) % 2) % 2000 END AS ss_customer_sk,
    (id * 41 + 5) % 700 AS ss_cdemo_sk,
    CASE WHEN CAST(floor((id)/18) AS BIGINT) % 20 = 8 THEN NULL ELSE (CAST(floor((id)/18) AS BIGINT) * 23 + 1) % 144 END AS ss_hdemo_sk,
    (id * 19) % 1500 AS ss_addr_sk,
    (CAST(floor((id)/18) AS BIGINT) * 31) % 12 AS ss_store_sk,
    (id * 43) % 50 AS ss_promo_sk,
    CAST(floor((id)/18) AS BIGINT) AS ss_ticket_number,
    CAST(1 + id % 100 AS INT) AS ss_quantity,
    (id * 1009) % 10000 AS ss_wholesale_cost,
    (id * 6971 + 29) % 25000 AS ss_list_price,
    (id * 7919 + 13) % 20000 AS ss_sales_price,
    (id * 2003) % 40000 AS ss_ext_discount_amt,
    CASE WHEN (id % 1000) % 11 = 4 AND (id % 1000) % 5 <> 0 AND CAST(floor((id)/1000) AS BIGINT) % 60 = 3 THEN 200000 + (id % 1000) * 101 + ((id % 1000) % 5) * 1000 ELSE (id * 104729 + 17) % 2000000 END AS ss_ext_sales_price,
    (id * 1013) % 1000000 AS ss_ext_wholesale_cost,
    (id * 104723 + 19) % 2500000 AS ss_ext_list_price,
    (id * 503) % 16000 AS ss_ext_tax,
    (id * 3001) % 5000 AS ss_coupon_amt,
    (id * 7013) % 1900000 AS ss_net_paid,
    (id * 7019) % 1950000 AS ss_net_paid_inc_tax,
    (id * 7907) % 300000 - 100000 AS ss_net_profit
  FROM (SELECT range AS id FROM range(60000)))
select d_year, brand_id, brand, cast(sum_agg as bigint) as sum_agg
from (
select  dt.d_year 
       ,item.i_brand_id brand_id 
       ,item.i_brand brand
       ,sum(ss_ext_sales_price) sum_agg
 from  date_dim dt 
      ,store_sales
      ,item
 where dt.d_date_sk = store_sales.ss_sold_date_sk
   and store_sales.ss_item_sk = item.i_item_sk
   and item.i_manufact_id = 3
   and dt.d_moy=11
 group by dt.d_year
      ,item.i_brand
      ,item.i_brand_id
 order by dt.d_year
         ,sum_agg desc
         ,brand_id
 limit 100
) graft_cast