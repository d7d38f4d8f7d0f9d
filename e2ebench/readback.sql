SELECT l_returnflag, l_linestatus,
       count(*) AS n,
       sum(l_orderkey) AS orderkey_sum,
       sum(l_partkey + l_suppkey + l_linenumber) AS key_sum,
       sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price_cents,
       sum(CAST(round(l_quantity * 100) AS BIGINT)) AS qty_cents,
       sum(CAST(round((l_discount + l_tax) * 100) AS BIGINT)) AS rate_cents,
       min(l_shipdate) AS first_ship,
       max(l_shipdate) AS last_ship
FROM {table}
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
