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
supplier AS MATERIALIZED (
  SELECT CAST(id AS INT) AS s_suppkey,
    'Supplier#' || lpad(CAST(id AS STRING), 9, '0') AS s_name,
    'addr_s_' || CAST((id*31+5) % 977 AS STRING) AS s_address,
    CAST(id % 25 AS INT) AS s_nationkey,
    CAST(10 + id % 25 AS STRING) || '-' || lpad(CAST((id*97+11) % 1000 AS STRING), 3, '0') || '-' || lpad(CAST((id*89+3) % 1000 AS STRING), 3, '0') || '-' || lpad(CAST((id*83+7) % 10000 AS STRING), 4, '0') AS s_phone,
    CAST((id*617+31) % 44000 AS DOUBLE)/4 - 1000 AS s_acctbal,
    CASE CAST(id % 8 AS INT) WHEN 0 THEN 'sits quietly among the pending requests' WHEN 1 THEN 'furiously even deposits detect' WHEN 2 THEN 'blithely final accounts are about the platelets' WHEN 3 THEN 'the Customer several cases unhappy Complaints were filed' WHEN 4 THEN 'slyly regular packages wake' WHEN 5 THEN 'express ideas haggle carefully' WHEN 6 THEN 'bold pinto beans sleep' WHEN 7 THEN 'quickly silent theodolites nod' END AS s_comment
  FROM (SELECT range AS id FROM range(200))),
 revenue AS MATERIALIZED (select
		l_suppkey as supplier_no,
		sum(l_extendedprice * (1 - l_discount)) as total_revenue
	from
		lineitem
	where
		l_shipdate >= date '1996-01-01'
		and l_shipdate < date '1996-01-01' + interval '3' month
	group by
		l_suppkey
)
select
	s_suppkey,
	s_name,
	total_revenue
from
	supplier,
	revenue
where
	s_suppkey = supplier_no
	and total_revenue = (
		select
			max(total_revenue)
		from
			revenue
	)
order by
	s_suppkey