-- TPC-DS query 83: the text of DuckDB 1.0.0's tpcds_queries().
-- Deviations, the same for both engines:
--   - DECIMAL literals and casts become DOUBLE: Spark keeps a DECIMAL
--     through the division, and the hasher bans DECIMAL outputs.
--   - The three return dates become days of the generator's return-surge
--     weeks, the only weeks in which all three channels return the same
--     items.
--   - An outer SELECT casts sr_item_qty, cr_item_qty, wr_item_qty to
--     BIGINT: DuckDB widens sum(INTEGER/BIGINT) to HUGEINT, which the
--     hasher bans, and on Spark the cast is a no-op.
select item_id, cast(sr_item_qty as bigint) as sr_item_qty, sr_dev, cast(cr_item_qty as bigint) as cr_item_qty, cr_dev, cast(wr_item_qty as bigint) as wr_item_qty, wr_dev, average
from (
WITH sr_items AS
  (SELECT i_item_id item_id,
          sum(sr_return_quantity) sr_item_qty
   FROM store_returns,
        item,
        date_dim
   WHERE sr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date
        FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq
             FROM date_dim
             WHERE d_date IN ('2001-07-13',
                              '2001-09-10',
                              '2001-11-16')))
     AND sr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
     cr_items AS
  (SELECT i_item_id item_id,
          sum(cr_return_quantity) cr_item_qty
   FROM catalog_returns,
        item,
        date_dim
   WHERE cr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date
        FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq
             FROM date_dim
             WHERE d_date IN ('2001-07-13',
                              '2001-09-10',
                              '2001-11-16')))
     AND cr_returned_date_sk = d_date_sk
   GROUP BY i_item_id),
     wr_items AS
  (SELECT i_item_id item_id,
          sum(wr_return_quantity) wr_item_qty
   FROM web_returns,
        item,
        date_dim
   WHERE wr_item_sk = i_item_sk
     AND d_date IN
       (SELECT d_date
        FROM date_dim
        WHERE d_week_seq IN
            (SELECT d_week_seq
             FROM date_dim
             WHERE d_date IN ('2001-07-13',
                              '2001-09-10',
                              '2001-11-16')))
     AND wr_returned_date_sk = d_date_sk
   GROUP BY i_item_id)
SELECT sr_items.item_id ,
       sr_item_qty ,
       (sr_item_qty*1.0e0)/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0e0 * 100 sr_dev ,
       cr_item_qty ,
       (cr_item_qty*1.0e0)/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0e0 * 100 cr_dev ,
       wr_item_qty ,
       (wr_item_qty*1.0e0)/(sr_item_qty+cr_item_qty+wr_item_qty)/3.0e0 * 100 wr_dev ,
       (sr_item_qty+cr_item_qty+wr_item_qty)/3.0e0 average
FROM sr_items ,
     cr_items ,
     wr_items
WHERE sr_items.item_id=cr_items.item_id
  AND sr_items.item_id=wr_items.item_id
ORDER BY sr_items.item_id NULLS FIRST,
         sr_item_qty NULLS FIRST
LIMIT 100
) graft_cast;
