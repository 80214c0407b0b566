WITH lineitem AS MATERIALIZED (
  SELECT CAST(floor((id)/4) AS BIGINT) AS l_orderkey,
    CAST((id*23+3) % 2000 AS INT) AS l_partkey,
    CAST((((id*23+3) % 2000)*11 + (id % 4)*59 + 7) % 200 AS INT) AS l_suppkey,
    CAST(1 + id % 4 AS INT) AS l_linenumber,
    CAST(1 + (id*11 + CAST(floor((id)/2000) AS BIGINT)*7 + 5) % 50 + CASE WHEN CAST(floor((id)/4) AS BIGINT) % 83 = 5 THEN 60 ELSE 0 END AS DOUBLE) AS l_quantity,
    CAST(400 + (id*7919+13) % 360000 AS DOUBLE)/4 AS l_extendedprice,
    CAST((id*3+1) % 7 AS DOUBLE)/64 AS l_discount,
    CAST((id*5+2) % 6 AS DOUBLE)/64 AS l_tax,
    CASE WHEN (((DATE '1992-01-01' + CAST((CAST(floor((id)/4) AS BIGINT)*37+11) % 2341 AS INT)) + CAST(1 + (id*13) % 120 AS INT)) + CAST(1 + (id*3) % 30 AS INT)) < DATE '1995-06-17' THEN (CASE WHEN id % 2 = 0 THEN 'R' ELSE 'A' END) ELSE 'N' END AS l_returnflag,
    CASE WHEN ((DATE '1992-01-01' + CAST((CAST(floor((id)/4) AS BIGINT)*37+11) % 2341 AS INT)) + CAST(1 + (id*13) % 120 AS INT)) < DATE '1995-06-17' THEN 'F' ELSE 'O' END AS l_linestatus,
    (DATE '1992-01-01' + CAST((CAST(floor((id)/4) AS BIGINT)*37+11) % 2341 AS INT)) + CAST(1 + (id*13) % 120 AS INT) AS l_shipdate,
    (DATE '1992-01-01' + CAST((CAST(floor((id)/4) AS BIGINT)*37+11) % 2341 AS INT)) + CAST(30 + (id*7) % 60 AS INT) AS l_commitdate,
    ((DATE '1992-01-01' + CAST((CAST(floor((id)/4) AS BIGINT)*37+11) % 2341 AS INT)) + CAST(1 + (id*13) % 120 AS INT)) + CAST(1 + (id*3) % 30 AS INT) AS l_receiptdate,
    CASE CAST(id % 4 AS INT) WHEN 0 THEN 'DELIVER IN PERSON' WHEN 1 THEN 'COLLECT COD' WHEN 2 THEN 'NONE' WHEN 3 THEN 'TAKE BACK RETURN' END AS l_shipinstruct,
    CASE CAST(id % 7 AS INT) WHEN 0 THEN 'REG AIR' WHEN 1 THEN 'AIR' WHEN 2 THEN 'RAIL' WHEN 3 THEN 'SHIP' WHEN 4 THEN 'TRUCK' WHEN 5 THEN 'MAIL' WHEN 6 THEN 'FOB' END AS l_shipmode,
    'line note ' || CAST((id*23) % 91 AS STRING) AS l_comment
  FROM (SELECT range AS id FROM range(60000))),
orders AS MATERIALIZED (
  SELECT id AS o_orderkey,
    CAST((CASE WHEN (id) % 5 = 0 THEN ((id)*17 + CAST(floor((id)/5) AS BIGINT) + 3) % 250 ELSE ((id)*53 + CAST(floor((id)/5) AS BIGINT) + 9) % 1000 END) AS INT) AS o_custkey,
    CASE WHEN DATE '1992-01-01' + CAST((id*37+11) % 2341 AS INT) < DATE '1995-01-01' THEN 'F' WHEN DATE '1992-01-01' + CAST((id*37+11) % 2341 AS INT) >= DATE '1996-07-01' THEN 'O' ELSE 'P' END AS o_orderstatus,
    CAST(40000 + (id*1009+13) % 1600000 AS DOUBLE)/4 AS o_totalprice,
    DATE '1992-01-01' + CAST((id*37+11) % 2341 AS INT) AS o_orderdate,
    CASE CAST(id % 5 AS INT) WHEN 0 THEN '1-URGENT' WHEN 1 THEN '2-HIGH' WHEN 2 THEN '3-MEDIUM' WHEN 3 THEN '4-NOT SPECIFIED' WHEN 4 THEN '5-LOW' END AS o_orderpriority,
    'Clerk#' || lpad(CAST((id*7) % 1000 AS STRING), 9, '0') AS o_clerk,
    CAST(0 AS INT) AS o_shippriority,
    CASE CAST(id % 13 AS INT) WHEN 0 THEN 'quickly final deposits haggle' WHEN 1 THEN 'furiously special ideas boost' WHEN 2 THEN 'carefully pending foxes among the accounts nag' WHEN 3 THEN 'blithely ironic accounts integrate' WHEN 4 THEN 'slyly even requests after the' WHEN 5 THEN 'express instructions sleep quickly' WHEN 6 THEN 'regular theodolites affix' WHEN 7 THEN 'silent packages print carefully' WHEN 8 THEN 'ironic dependencies wake slyly' WHEN 9 THEN 'even pinto beans against the' WHEN 10 THEN 'final requests above the' WHEN 11 THEN 'pending platelets boost furiously accounts of the' WHEN 12 THEN 'bold asymptotes nod' END AS o_comment
  FROM (SELECT range AS id FROM range(15000)))
select l_shipmode, cast(high_line_count as bigint) as high_line_count, cast(low_line_count as bigint) as low_line_count
from (
select
	l_shipmode,
	sum(case
		when o_orderpriority = '1-URGENT'
			or o_orderpriority = '2-HIGH'
			then 1
		else 0
	end) as high_line_count,
	sum(case
		when o_orderpriority <> '1-URGENT'
			and o_orderpriority <> '2-HIGH'
			then 1
		else 0
	end) as low_line_count
from
	orders,
	lineitem
where
	o_orderkey = l_orderkey
	and l_shipmode in ('MAIL', 'SHIP')
	and l_commitdate < l_receiptdate
	and l_shipdate < l_commitdate
	and l_receiptdate >= date '1994-01-01'
	and l_receiptdate < date '1994-01-01' + interval '1' year
group by
	l_shipmode
order by
	l_shipmode
) graft_cast