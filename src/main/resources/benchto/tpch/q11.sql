SELECT
  ps.partkey,
  sum(ps.supplycost * ps.availqty) AS value
FROM
  "${database}"."${schema}"."${prefix}partsupp" AS ps,
  "${database}"."${schema}"."${prefix}supplier" AS s,
  "${database}"."${schema}"."${prefix}nation" AS n
WHERE
  ps.suppkey = s.suppkey
  AND s.nationkey = n.nationkey
  AND n.name = 'GERMANY'
GROUP BY
  ps.partkey
HAVING
  sum(ps.supplycost * ps.availqty) > (
    SELECT
      sum(ps2.supplycost * ps2.availqty) * 0.0001
    FROM
      "${database}"."${schema}"."${prefix}partsupp" AS ps2,
      "${database}"."${schema}"."${prefix}supplier" AS s2,
      "${database}"."${schema}"."${prefix}nation" AS n2
    WHERE
      ps2.suppkey = s2.suppkey
      AND s2.nationkey = n2.nationkey
      AND n2.name = 'GERMANY'
  )
ORDER BY
  value DESC
