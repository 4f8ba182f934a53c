-- Statement templates of the sql_rw workload, in the Presto dialect the
-- server accepts. A block starts with "-- name: <template> <kind>"; a
-- placeholder is {name}. {table} is the Delta table's path, filled in by
-- the JVM harness; the other placeholders come from the seeded
-- generator in inputs.py. Reads use quoted identifiers and Presto
-- functions; DML conditions are plain Spark expressions, as LakeScans
-- evaluates them.

-- name: point_lookup read
SELECT "c_custkey", "c_name", "c_nationkey", round("c_acctbal", 2) AS "bal"
FROM customer
WHERE "c_custkey" = {custkey}

-- name: ship_week read
SELECT "l_returnflag", count(*) AS "n",
       approx_distinct("l_suppkey") AS "suppliers", sum("l_quantity") AS "qty"
FROM lineitem
WHERE "l_shipdate" >= date '{day}'
  AND "l_shipdate" < date_add('day', 7, date '{day}')
GROUP BY "l_returnflag"
ORDER BY 1

-- name: nation_band read
SELECT "n_name", count(*) AS "customers", max("c_acctbal") AS "top",
       strpos(upper("n_name"), 'A') AS "a_at"
FROM customer JOIN nation ON "c_nationkey" = "n_nationkey"
WHERE "c_nationkey" BETWEEN {nation} AND {nation} + 4
GROUP BY "n_name"
ORDER BY "n_name"

-- name: delta_range read_delta
SELECT count(*) AS "n", coalesce(sum("v"), 0) AS "s"
FROM delta_scan('{table}')
WHERE "k" BETWEEN {lo} AND {hi}

-- name: delta_pages read_pages
SELECT "k", "v"
FROM delta_scan('{table}')
WHERE "k" < {static_rows}

-- name: insert write_insert
INSERT INTO delta_scan('{table}')
SELECT * FROM (VALUES {rows}) AS src(k, client, v, note)

-- name: update write_update
UPDATE delta_scan('{table}') SET v = v + {delta} WHERE k BETWEEN {lo} AND {hi}

-- name: delete write_delete
DELETE FROM delta_scan('{table}') WHERE k BETWEEN {lo} AND {hi}

-- name: merge write_merge
MERGE INTO delta_scan('{table}') AS t
USING (SELECT CAST(k AS BIGINT) AS k, CAST(client AS INT) AS client,
              CAST(v AS BIGINT) AS v, note
       FROM (VALUES {rows}) AS src(k, client, v, note)) AS s
ON t.k = s.k
WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note
WHEN NOT MATCHED THEN INSERT (k, client, v, note) VALUES (s.k, s.client, s.v, s.note)
