SELECT
  sum(l.extendedprice) / 7.0 AS avg_yearly
FROM
  "${database}"."${schema}"."${prefix}lineitem" AS l,
  "${database}"."${schema}"."${prefix}part" AS p
WHERE
  p.partkey = l.partkey
  AND p.brand = 'Brand#23'
  AND p.container = 'MED BOX'
  AND l.quantity < (
    SELECT
      0.2 * avg(l2.quantity)
    FROM
      "${database}"."${schema}"."${prefix}lineitem" AS l2
    WHERE
      l2.partkey = p.partkey
  )
