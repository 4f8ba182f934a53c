SELECT
  s.acctbal,
  s.name,
  n.name,
  p.partkey,
  p.mfgr,
  s.address,
  s.phone,
  s.comment
FROM
  "${database}"."${schema}"."${prefix}part" AS p,
  "${database}"."${schema}"."${prefix}supplier" AS s,
  "${database}"."${schema}"."${prefix}partsupp" AS ps,
  "${database}"."${schema}"."${prefix}nation" AS n,
  "${database}"."${schema}"."${prefix}region" AS r
WHERE
  p.partkey = ps.partkey
  AND s.suppkey = ps.suppkey
  AND p.size = 15
  AND p.type LIKE '%BRASS'
  AND s.nationkey = n.nationkey
  AND n.regionkey = r.regionkey
  AND r.name = 'EUROPE'
  AND ps.supplycost = (
    SELECT
      min(ps2.supplycost)
    FROM
      "${database}"."${schema}"."${prefix}partsupp" AS ps2,
      "${database}"."${schema}"."${prefix}supplier" AS s2,
      "${database}"."${schema}"."${prefix}nation" AS n2,
      "${database}"."${schema}"."${prefix}region" AS r2
    WHERE
      p.partkey = ps2.partkey
      AND s2.suppkey = ps2.suppkey
      AND s2.nationkey = n2.nationkey
      AND n2.regionkey = r2.regionkey
      AND r2.name = 'EUROPE'
  )
ORDER BY
  s.acctbal DESC,
  n.name,
  s.name,
  p.partkey
LIMIT 100
