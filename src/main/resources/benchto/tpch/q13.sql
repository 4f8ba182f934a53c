SELECT
  c_count,
  count(*) AS custdist
FROM (
  SELECT
    c.custkey,
    count(o.orderkey) AS c_count
  FROM
    "${database}"."${schema}"."${prefix}customer" AS c
    LEFT OUTER JOIN "${database}"."${schema}"."${prefix}orders" AS o
      ON c.custkey = o.custkey
      AND o.comment NOT LIKE '%special%requests%'
  GROUP BY
    c.custkey
) AS c_orders
GROUP BY
  c_count
ORDER BY
  custdist DESC,
  c_count DESC
