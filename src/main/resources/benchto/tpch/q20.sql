SELECT
  s.name,
  s.address
FROM
  "${database}"."${schema}"."${prefix}supplier" AS s,
  "${database}"."${schema}"."${prefix}nation" AS n
WHERE
  s.suppkey IN (
    SELECT
      ps.suppkey
    FROM
      "${database}"."${schema}"."${prefix}partsupp" AS ps
    WHERE
      ps.partkey IN (
        SELECT
          p.partkey
        FROM
          "${database}"."${schema}"."${prefix}part" AS p
        WHERE
          p.name LIKE 'forest%'
      )
      AND ps.availqty > (
        SELECT
          0.5 * sum(l.quantity)
        FROM
          "${database}"."${schema}"."${prefix}lineitem" AS l
        WHERE
          l.partkey = ps.partkey
          AND l.suppkey = ps.suppkey
          AND l.shipdate >= DATE '1994-01-01'
          AND l.shipdate < DATE '1994-01-01' + INTERVAL '1' YEAR
      )
  )
  AND s.nationkey = n.nationkey
  AND n.name = 'CANADA'
ORDER BY
  s.name
