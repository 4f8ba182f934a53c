SELECT
  sum(l.extendedprice * l.discount) AS revenue
FROM
  "${database}"."${schema}"."${prefix}lineitem" AS l
WHERE
  l.shipdate >= DATE '1994-01-01'
  AND l.shipdate < DATE '1994-01-01' + INTERVAL '1' YEAR
  AND l.discount BETWEEN 0.06 - 0.01 AND 0.06 + 0.01
  AND l.quantity < 24
