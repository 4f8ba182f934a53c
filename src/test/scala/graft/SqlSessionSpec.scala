package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.api.SqlSession

/** End-to-end reference-dialect SQL through the SqlSession entry point:
  * the benchto TPC-H texts (q01/q06 shapes from
  * presto-benchto-benchmarks/.../sql/presto/tpch/) must plan and agree with
  * the DataFrame implementations; reference function names must resolve. */
class SqlSessionSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val session = SqlSession.wrap(spark).loadTables(sf)

  test("TPC-H q06 reference text matches the DataFrame implementation") {
    val viaSql = session.sql(
      """SELECT sum(l_extendedprice * l_discount) AS revenue
        |FROM lineitem
        |WHERE l_shipdate >= date '1996-01-01'
        |  AND l_shipdate < date '1996-01-01' + interval '1' year
        |  AND l_discount BETWEEN 0.05 AND 0.07
        |  AND l_quantity < 24""".stripMargin).collect()(0).getDouble(0)
    val viaDf = tpch.Tpch.q06(spark, sf).collect()(0).getDouble(0)
    assert(math.abs(viaSql - viaDf) < 1e-6, s"$viaSql vs $viaDf")
  }

  test("TPC-H q01 reference text: grouping + FILTER-style aggregates") {
    val rows = session.sql(
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  avg(l_extendedprice) AS avg_price,
        |  count(*) AS count_order
        |FROM lineitem
        |WHERE l_shipdate <= date '1998-12-01' - interval '90' day
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin).collect()
    assert(rows.length == 6)
    assert(rows.forall(_.getLong(4) > 0))
  }

  test("reference function names resolve through the dialect shim") {
    val r = session.sql(
      """SELECT approx_distinct(l_suppkey) AS nd,
        |       arbitrary(l_returnflag) AS arb,
        |       strpos('hello world', 'world') AS p,
        |       codepoint('A') AS cp,
        |       json_extract_scalar('{"a": 5}', '$.a') AS j
        |FROM lineitem""".stripMargin).collect()(0)
    assert(r.getLong(0) > 0)
    assert(Set("A", "N", "R")(r.getString(1)))
    assert(r.getInt(2) == 7)
    assert(r.getInt(3) == 65)
    assert(r.getString(4) == "5")
    // reference KLL spellings: sketch_kll_with_k must not be eaten by the
    // sketch_kll rename (word-boundary match), and quantile/rank resolve
    val kll = session.sql(
      """SELECT sketch_kll_quantile(sketch_kll(l_quantity), 0.5) AS q50,
        |       sketch_kll_rank(sketch_kll_with_k(l_quantity, 256), 25.0) AS rk
        |FROM lineitem""".stripMargin).collect()(0)
    assert(kll.getDouble(0) >= 1 && kll.getDouble(0) <= 50)
    assert(kll.getDouble(1) > 0 && kll.getDouble(1) < 1)
  }

  test("dialect renames never touch string literals or comments") {
    import graft.api.Dialect
    assert(Dialect.translate("SELECT 'call arbitrary(x)' AS s") ==
      "SELECT 'call arbitrary(x)' AS s")
    assert(Dialect.translate("SELECT arbitrary(x) -- arbitrary(y)\nFROM t") ==
      "SELECT any_value(x) -- arbitrary(y)\nFROM t")
    assert(Dialect.translate("SELECT /* strpos(a,b,c) */ strpos(a, b) FROM t") ==
      "SELECT /* strpos(a,b,c) */ instr(a, b) FROM t")
    assert(Dialect.translate("SELECT 'it''s strpos(a,b)' FROM t") ==
      "SELECT 'it''s strpos(a,b)' FROM t")
  }

  test("TRY(expr) dialect form reaches the error-suppressing expression") {
    import graft.api.Dialect
    assert(Dialect.translate("SELECT try(x / y) FROM t") ==
      "SELECT try_expr(x / y) FROM t")
    // Spark's own try_* family is untouched
    assert(Dialect.translate("SELECT try_divide(a, b) FROM t") ==
      "SELECT try_divide(a, b) FROM t")
    val r = session.sql("SELECT try(hamming_distance('ab', 'abc')) AS v")
      .collect()(0)
    assert(r.isNullAt(0))
  }

  test("ANSI session matches reference error semantics; TRY suppresses") {
    val ns = spark.newSession()
    ns.conf.set("spark.sql.ansi.enabled", "true")
    graft.functions.GraftFunctions.register(ns)
    intercept[Exception] { ns.sql("SELECT 1/0").collect() } // reference: errors
    assert(ns.sql("SELECT try_expr(1/0) AS v").collect()(0).isNullAt(0))
  }

  test("3-arg strpos routes to the occurrence variant; 2-arg stays instr") {
    import graft.api.Dialect
    assert(Dialect.translate("SELECT strpos(s, 'x, y', 2) FROM t") ==
      "SELECT graft_strpos3(s, 'x, y', 2) FROM t")
    // commas inside literals must not trigger the arity rewrite
    assert(Dialect.translate("SELECT strpos(s, 'x, y') FROM t") ==
      "SELECT instr(s, 'x, y') FROM t")
    // reference semantics (StringFunctions.java stringPosition w/ instance):
    // n-th occurrence from the start, negative from the end, 0 raises
    val r = session.sql("SELECT strpos('high high hog', 'h', 3) AS a, " +
      "strpos('high high hog', 'h', -1) AS b, " +
      "strpos('aaa', 'aa', 2) AS c, strpos('abc', 'z', 2) AS z").collect()(0)
    assert(r.getLong(0) == 6L && r.getLong(1) == 11L &&
      r.getLong(2) == 2L && r.getLong(3) == 0L)
    intercept[Exception] {
      session.sql("SELECT strpos('abc', 'a', 0) AS v").collect()
    }
  }

  test("subscripts are 1-based strict_subscript (arrays and maps)") {
    import graft.api.Dialect
    assert(Dialect.translate("SELECT a[1] FROM t") ==
      "SELECT strict_subscript(a, 1) FROM t")
    assert(Dialect.translate("SELECT m['k'] FROM t") ==
      "SELECT strict_subscript(m, 'k') FROM t")
    // ARRAY[...] literal constructor is not a subscript
    assert(Dialect.translate("SELECT ARRAY[1, 2]") == "SELECT ARRAY[1, 2]")
    val r = session.sql(
      """SELECT arr[1] AS first, m['k'] AS v
        |FROM (SELECT split('a b c', ' ') AS arr, map('k', 7) AS m)""".stripMargin)
      .collect()(0)
    assert(r.getString(0) == "a" && r.getInt(1) == 7)
  }

  test("more than 32 CHAR casts raises; 32 still pad") {
    def casts(n: Int) = (1 to n)
      .map(i => s"length(CAST('a' AS CHAR(3))) AS c$i").mkString(", ")
    val r = session.sql(s"SELECT ${casts(32)}").collect()(0)
    assert((0 until 32).forall(r.getInt(_) == 3))
    // the 33rd cast must not be left unpadded (length 1) silently
    val e = intercept[IllegalStateException] {
      session.sql(s"SELECT ${casts(33)}").collect()
    }
    assert(e.getMessage.contains("more than 32"), e.getMessage)
  }

  test("ALL 22 reference benchto TPC-H texts run through SqlSession") {
    // benchto instantiates "${database}"."${schema}"."${prefix}table" via
    // template substitution and uses the tpch connector's UNPREFIXED column
    // names (presto-tpch); BenchtoSchema registers that instantiation,
    // deriving the columns the fixture star schema lacks (partsupp,
    // commit/receipt dates, ship modes, phones, containers, comments).
    session.table("lineitem") // force loadTables before the adapter views
    tpch.BenchtoSchema.register(spark, sf)
    // fixture-domain parameter substitutions (same role as benchto's own
    // template parameters): nations are NATION_<k>, part types/names are
    // single-word domains
    val params = Seq(
      // nations picked to have suppliers in the fixture (10 suppliers
      // spread over 25 nations leave most supplier-less)
      "FRANCE" -> "NATION_19", "GERMANY" -> "NATION_20", "BRAZIL" -> "NATION_2",
      "CANADA" -> "NATION_3", "SAUDI ARABIA" -> "NATION_20",
      "%BRASS" -> "%PROMO", "ECONOMY ANODIZED STEEL" -> "ECONOMY",
      "MEDIUM POLISHED%" -> "MEDIUM%", "%green%" -> "%widget%",
      "forest%" -> "blue%",
      // fixture calendar runs 1995-2001, not the kit's 1992-1998
      "'1992-" -> "'1995-", "'1993-" -> "'1996-", "'1994-" -> "'1997-")
    val all = (1 to 22).map(i => f"q$i%02d")
    var nonEmpty = 0
    for (q <- all) {
      val sql = params.foldLeft(tpch.BenchtoTexts.raw(q)
        .replaceAll("\"\\$\\{database\\}\"\\.\"\\$\\{schema\\}\"\\.\"\\$\\{prefix\\}(\\w+)\"", "tpch_$1")
        .trim.stripSuffix(";")) { case (t, (from, to)) => t.replace(from, to) }
      val rows = session.sql(sql).collect() // must plan + execute
      assert(rows != null, s"$q failed")
      info(s"$q: ${rows.length} rows")
      if (rows.nonEmpty) nonEmpty += 1
    }
    // sf0.001 leaves a few highly selective queries legitimately empty;
    // the bulk must return rows
    assert(nonEmpty >= 16, s"only $nonEmpty/22 texts returned rows")
  }

  test("EVERY registry entry resolves from SQL text (full-surface sweep)") {
    import org.apache.spark.sql.catalyst.FunctionIdentifier
    functions.GraftFunctions.register(spark)
    val reg = spark.sessionState.functionRegistry
    val missing = functions.GraftFunctions.all.map(_._1)
      .filterNot(n => reg.functionExists(FunctionIdentifier(n.toLowerCase)))
    assert(missing.isEmpty, s"registered but unresolvable: $missing")
    val treg = spark.sessionState.tableFunctionRegistry
    val tMissing = functions.GraftFunctions.tableFunctions.map(_._1)
      .filterNot(n => treg.functionExists(FunctionIdentifier(n.toLowerCase)))
    assert(tMissing.isEmpty, s"table functions unresolvable: $tMissing")
    // registry scale pin: distributions + sketches + color + geo + breadth
    // families all present (drop below this means a family fell out)
    assert(functions.GraftFunctions.all.size >= 260,
      s"registry shrank to ${functions.GraftFunctions.all.size} entries")
  }

  test("graft custom functions are available in the session") {
    val r = session.sql(
      """SELECT hll_cardinality(approx_set(l_partkey)) AS nd
        |FROM lineitem""".stripMargin).collect()(0)
    assert(r.getLong(0) > 0)
  }

  test("duplicate map keys raise (reference DuplicateMapKeyException semantics)") {
    val e = intercept[Exception] {
      session.sql("SELECT map_from_entries(array(struct(1, 'a'), struct(1, 'b')))")
        .collect()
    }
    assert(e.getMessage.toLowerCase.contains("duplicate"),
      s"expected duplicate-key error, got: ${e.getMessage.take(200)}")
  }

  test("UNNEST as a relation: CROSS JOIN, ordinality, zip, map, FROM forms") {
    // single array + WITH ORDINALITY (1-based BIGINT like the reference)
    val r1 = session.sql(
      """SELECT n_name, t.w, t.ord
        |FROM nation CROSS JOIN UNNEST(split(n_name, 'A')) WITH ORDINALITY
        |  AS t(w, ord)
        |WHERE n_nationkey = 0 ORDER BY t.ord""".stripMargin).collect()
    assert(r1.nonEmpty && r1.head.getLong(2) == 1L)
    // zip of two arrays pads the shorter with NULL
    val r2 = session.sql(
      """SELECT t.x, t.y FROM UNNEST(sequence(1, 3), sequence(10, 11))
        |  AS t(x, y) ORDER BY t.x""".stripMargin).collect()
    assert(r2.length == 3 && r2(2).isNullAt(1))
    // map form: one argument, two columns
    val r3 = session.sql(
      """SELECT t.k, t.v FROM UNNEST(map('a', 1, 'b', 2)) AS t(k, v)
        |ORDER BY t.k""".stripMargin).collect()
    assert(r3.map(_.getString(0)).toSeq == Seq("a", "b"))
    // comma-join spelling, no ordinality
    val r4 = session.sql(
      """SELECT n_nationkey, t.w
        |FROM nation, UNNEST(split(n_name, ' ')) AS t(w)
        |WHERE n_nationkey < 3""".stripMargin).collect()
    assert(r4.nonEmpty)
  }

  test("TABLESAMPLE BERNOULLI / SYSTEM accepted as reference SQL text") {
    val n = session.sql(
      "SELECT count(*) AS n FROM lineitem TABLESAMPLE BERNOULLI (20)")
      .collect()(0).getLong(0)
    val total = session.sql("SELECT count(*) FROM lineitem")
      .collect()(0).getLong(0)
    assert(n > 0 && n < total, s"sampled $n of $total")
    val m = session.sql(
      "SELECT count(*) AS n FROM orders TABLESAMPLE SYSTEM (50)")
      .collect()(0).getLong(0)
    assert(m > 0)
  }

  test("reference array-lambda spellings: all/any/none_match, reduce, repeat") {
    def one(q: String): Any = session.sql(q).collect()(0).get(0)
    assert(one("SELECT all_match(array(2, 4, 6), x -> x % 2 = 0)") == true)
    assert(one("SELECT any_match(array(1, 3, 6), x -> x % 2 = 0)") == true)
    assert(one("SELECT none_match(array(1, 3, 5), x -> x % 2 = 0)") == true)
    assert(one("SELECT none_match(array(1, 2, 3), x -> x % 2 = 0)") == false)
    // three-valued: a NULL verdict with no definite match is unknown
    assert(one("SELECT none_match(array(1, NULL), x -> x > 5)") == null)
    assert(one("SELECT none_match(array(7, NULL), x -> x > 5)") == false)
    assert(one("SELECT reduce(array(1, 2, 3), 0, (s, x) -> s + x, s -> s)") == 6)
    assert(one("SELECT size(repeat('ab', 3))") == 3)
    assert(one("SELECT contains(array(1, 2), 2)") == true)
    assert(one("SELECT find_first(array(1, 8, 3), x -> x > 2)") == 8)
    assert(one("SELECT find_first_index(array(1, 8, 3), x -> x > 2)") == 2L)
    assert(one("SELECT find_first(array(1, 2), x -> x > 5)") == null)
  }

  test("conversion spellings: base64/hex renames, to_iso8601, from_unixtime") {
    def one(q: String): Any = session.sql(q).collect()(0).get(0)
    assert(one("SELECT to_base64(to_utf8('abc'))") == "YWJj")
    assert(one("SELECT from_utf8(from_base64('YWJj'))") == "abc")
    assert(one("SELECT to_hex(to_utf8('AB'))") == "4142")
    assert(one("SELECT from_utf8(from_hex('4142'))") == "AB")
    assert(one("SELECT to_iso8601(DATE '1995-06-15')") == "1995-06-15")
    assert(one("SELECT to_iso8601(TIMESTAMP '1995-06-15 10:30:00.5')")
      == "1995-06-15T10:30:00.500")
    // 1-arg from_unixtime is a TIMESTAMP (reference type), not a string
    assert(one("SELECT typeof(from_unixtime(0))") == "timestamp")
    assert(one("SELECT CAST(from_unixtime(86400) AS STRING)")
      == "1970-01-02 00:00:00")
    val vq = one("SELECT values_at_quantiles(qdigest_agg(CAST(id AS DOUBLE)), " +
      "array(0.25, 0.75)) FROM range(1, 1001)")
      .asInstanceOf[scala.collection.Seq[Double]]
    assert(vq.size == 2 && vq(0) < vq(1) && math.abs(vq(0) - 250) < 50)
  }

  test("base32/base64url, ngrams, timezone, truncate, duration spellings") {
    def one(q: String): Any = session.sql(q).collect()(0).get(0)
    // RFC 4648 test vectors
    assert(one("SELECT to_base32(to_utf8('foobar'))") == "MZXW6YTBOI======")
    assert(one("SELECT to_base32(to_utf8('fo'))") == "MZXQ====")
    assert(one("SELECT from_utf8(from_base32('MZXW6YTBOI======'))") == "foobar")
    assert(one("SELECT from_utf8(from_base64url(to_base64url(to_utf8('a+b/c'))))")
      == "a+b/c")
    assert(one("SELECT ngrams(array(1, 2, 3, 4), 2)")
      .asInstanceOf[scala.collection.Seq[_]].map(
        _.asInstanceOf[scala.collection.Seq[_]].toList).toList
      == List(List(1, 2), List(2, 3), List(3, 4)))
    assert(one("SELECT size(ngrams(array(1, 2), 5))") == 1) // n > len: whole array
    assert(one("SELECT CAST(at_timezone(TIMESTAMP '2020-01-01 12:00:00', " +
      "'+05:30') AS STRING)") == "2020-01-01 17:30:00")
    assert(one("SELECT CAST(with_timezone(TIMESTAMP '2020-01-01 17:30:00', " +
      "'+05:30') AS STRING)") == "2020-01-01 12:00:00")
    assert(one("SELECT truncate(-3.7)") == -3.0)
    assert(one("SELECT truncate(3.789, 2)") == 3.78)
    assert(one("SELECT parse_duration('2.5 s')") == 2500.0)
    assert(one("SELECT is_nan(nan())") == true)
    assert(one("SELECT split_to_map('a=1,b=2', ',', '=')['b']") == "2")
    assert(one("SELECT bitwise_right_shift(-8, 1)")
      .asInstanceOf[Number].longValue > 0L) // logical, zero-fill
    assert(one("SELECT bitwise_right_shift_arithmetic(-8, 1)") == -4)
    assert(one("SELECT bitwise_left_shift(3, 2)") == 12)
  }

  test("SQL-invoked array/map helper names resolve from SQL text") {
    def one(q: String): Any = session.sql(q).collect()(0).get(0)
    assert(one("SELECT array_average(array(1.0, 3.0, NULL))") == 2.0)
    assert(one("SELECT remove_nulls(array(1, NULL, 2))")
      .asInstanceOf[scala.collection.Seq[_]].toList == Seq(1, 2))
    assert(one("SELECT array_sort_desc(array(2, NULL, 5, 1))")
      .asInstanceOf[scala.collection.Seq[_]].toList == Seq(5, 2, 1, null))
    assert(one("SELECT array_top_n(array(3, 9, 1, 7), 2)")
      .asInstanceOf[scala.collection.Seq[_]].toList == Seq(9, 7))
    assert(one("SELECT array_has_duplicates(array(1, 2, 1))") == true)
    assert(one("SELECT size(combinations(array(1, 2, 3), 2))") == 3)
    assert(one("SELECT map_key_exists(map(1, 'a'), 1)") == true)
    assert(one("SELECT map_top_n_values(map('a', 3, 'b', 9), 1)")
      .asInstanceOf[scala.collection.Seq[_]].toList == Seq(9))
    assert(one("SELECT all_keys_match(map(2, 'x', 4, 'y'), k -> k % 2 = 0)") == true)
    assert(one("SELECT no_keys_match(map(1, 'x'), k -> k > 5)") == true)
    assert(one("SELECT any_values_match(map('a', 1, 'b', 9), v -> v > 5)") == true)
  }

  test("GROUPS frames accepted as SQL text (dense_rank+RANGE restructure)") {
    // partitioned GROUPS window vs the DataFrame-API rewrite
    val viaSql = session.sql(
      """SELECT n_regionkey, n_nationkey,
        | count(*) OVER (PARTITION BY n_regionkey ORDER BY n_nationkey % 3
        |   GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS grp_cnt
        |FROM nation ORDER BY n_regionkey, n_nationkey""".stripMargin).collect()
    assert(viaSql.nonEmpty && viaSql.forall(_.getLong(2) >= 1))
    // partition-less form
    val np = session.sql(
      """SELECT n_nationkey,
        | count(*) OVER (ORDER BY n_nationkey % 5
        |   GROUPS BETWEEN CURRENT ROW AND 1 FOLLOWING) AS c
        |FROM nation ORDER BY n_nationkey""".stripMargin).collect()
    assert(np.nonEmpty)
    // GROUPS without ORDER BY is rejected with a clear message
    val e = intercept[UnsupportedOperationException](session.sql(
      "SELECT count(*) OVER (GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM nation"))
    assert(e.getMessage.contains("ORDER BY"))
  }

  test("split_to_table TVF: FROM position, LATERAL VIEW, empty-field rows") {
    val rows = session.sql("SELECT * FROM split_to_table('a b c', ' ')")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(rows.toSeq == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // non-regex delimiter, empty fields preserved
    val dots = session.sql("SELECT value FROM split_to_table('x..y', '.')")
      .collect().map(_.getString(0))
    assert(dots.toSeq == Seq("x", "", "y"))
    val lat = session.sql(
      """SELECT n_nationkey, t.ord, t.w
        |FROM nation LATERAL VIEW split_to_table(n_name, ' ') t AS ord, w
        |WHERE n_nationkey < 5""".stripMargin).collect()
    assert(lat.nonEmpty && lat.forall(_.getLong(1) >= 1))
  }

  test("GROUPS frame with WHERE: filter moves inside the dense_rank subquery") {
    // 15 filtered rows, 5 peer groups of 3 by n_nationkey % 5: the first
    // group's frame holds 3 rows, every later group 1 PRECEDING+CURRENT = 6.
    // If the WHERE stayed outside, dense_rank over the unfiltered table
    // would punch gaps and the counts would be wrong (r5 driver advice).
    val rows = session.sql(
      """SELECT n_nationkey, count(*) OVER (ORDER BY n_nationkey % 5
        |   GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c
        |FROM nation WHERE n_nationkey >= 10
        |ORDER BY n_nationkey""".stripMargin).collect()
    assert(rows.length == 15)
    assert(rows.forall(r =>
      r.getLong(1) == (if (r.getInt(0) % 5 == 0) 3L else 6L)))
    // joins/aliases after FROM <table> raise the documented error
    val e = intercept[UnsupportedOperationException](session.sql(
      """SELECT count(*) OVER (ORDER BY r_name
        |  GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW)
        |FROM region r JOIN nation n ON r.r_regionkey = n.n_regionkey"""
        .stripMargin))
    assert(e.getMessage.contains("FROM"))
  }

  test("UNNEST(array<row>) AS t(a, b) expands struct fields positionally") {
    val rows = session.sql(
      """SELECT t.a, t.b FROM
        |  (SELECT array(named_struct('x', 1, 'y', 'p'),
        |                named_struct('x', 2, 'y', 'q')) AS arr) s
        |CROSS JOIN UNNEST(arr) AS t(a, b)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1)))
    assert(rows.toSeq == Seq((1, "p"), (2, "q")))
    // with ordinality, 3-field struct takes the struct path directly
    val ord = session.sql(
      """SELECT t.a, t.c, t.n FROM
        |  (SELECT array(named_struct('x', 1, 'y', 'p', 'z', true)) AS arr) s
        |CROSS JOIN UNNEST(arr) WITH ORDINALITY AS t(a, c, z, n)""".stripMargin)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2)))
    assert(ord.toSeq == Seq((1, "p", 1L)))
    // the map form is still the first translation tried
    val mp = session.sql(
      """SELECT t.k, t.v FROM (SELECT map('a', 1, 'b', 2) AS m) s
        |CROSS JOIN UNNEST(m) AS t(k, v) ORDER BY t.k""".stripMargin)
      .collect().map(r => (r.getString(0), r.getInt(1)))
    assert(mp.toSeq == Seq(("a", 1), ("b", 2)))
  }

  test("TIME type: literal + extraction resolve; WITH TIME ZONE supported") {
    val r = session.sql(
      "SELECT CAST(TIME '08:30:15' AS STRING) AS st, hour(TIME '23:01:02') AS h")
      .collect()(0)
    assert(r.getString(0) == "08:30:15" && r.getInt(1) == 23)
    // per-value zones through CAST and the literal (TimeTzFunctions)
    val tz = session.sql(
      "SELECT graft_timetz_format(CAST('12:00:00 +05:30' AS TIME WITH TIME " +
        "ZONE)) AS c, graft_timetz_format(TIME '03:04:05.321 +07:09') AS l")
      .collect()(0)
    assert(tz.getString(0) == "12:00:00.000 +05:30")
    assert(tz.getString(1) == "03:04:05.321 +07:09")
    // the type name anywhere else still raises a clear error
    val e = intercept[UnsupportedOperationException](session.sql(
      "CREATE TABLE t_tz (x TIME WITH TIME ZONE) USING parquet"))
    assert(e.getMessage.contains("time with time zone"))
  }

  test("combine_hash wraps like Java long arithmetic (no ANSI overflow)") {
    val r = session.sql(
      """SELECT combine_hash(xxhash64(to_utf8('hello')),
        |                    xxhash64(to_utf8('world'))) AS ch,
        |       xxhash64(to_utf8('hello')) AS h1,
        |       xxhash64(to_utf8('world')) AS h2""".stripMargin).collect()(0)
    assert(r.getLong(0) == 31L * r.getLong(1) + r.getLong(2))
  }

  test("trim_array raises when n exceeds cardinality; ip_prefix_collapse type-checks") {
    val ok = session.sql("SELECT trim_array(array(1, 2, 3), 1) AS a")
      .collect()(0).getSeq[Int](0)
    assert(ok == Seq(1, 2))
    val e = intercept[Exception](
      session.sql("SELECT trim_array(array(1, 2, 3), 4)").collect())
    assert(e.getMessage.contains("cardinality"))
    // wrong element type is an analysis error, not a runtime ClassCast
    val t = intercept[org.apache.spark.sql.AnalysisException](
      session.sql("SELECT ip_prefix_collapse(array(1, 2))").collect())
    assert(t.getMessage.contains("ip_prefix_collapse"))
  }

  test("PREPARE / EXECUTE USING / DEALLOCATE statement lifecycle") {
    session.sql("PREPARE ps1 FROM SELECT n_nationkey, n_name FROM nation " +
      "WHERE n_regionkey = ? AND n_nationkey < ? ORDER BY n_nationkey")
    val rows = session.sql("EXECUTE ps1 USING 1, 20").collect()
    assert(rows.nonEmpty &&
      rows.forall(_.getAs[Number](0).longValue < 20))
    // parameter arity is checked
    assert(intercept[IllegalArgumentException](
      session.sql("EXECUTE ps1 USING 1")).getMessage.contains("parameters"))
    session.sql("DEALLOCATE PREPARE ps1")
    val gone = intercept[IllegalArgumentException](
      session.sql("EXECUTE ps1 USING 1, 20"))
    assert(gone.getMessage.contains("not found"))
    // string parameters keep their quotes through substitution
    session.sql("PREPARE ps2 FROM SELECT n_name FROM nation WHERE n_name = ?")
    assert(session.sql("EXECUTE ps2 USING 'NATION_7'").collect().length == 1)
    // parameters are found in code only: the `?` inside a quoted
    // identifier is not one, and an apostrophe in a comment hides none
    session.sql("PREPARE ps3 FROM SELECT n_name AS \"who?\" FROM nation " +
      "-- the nation's key\nWHERE n_nationkey = ?")
    val ps3 = session.sql("EXECUTE ps3 USING 7")
    assert(ps3.columns.toSeq == Seq("who?"))
    assert(ps3.collect().length == 1)
  }

  test("DESCRIBE INPUT and DESCRIBE OUTPUT report parameters and schema") {
    session.sql("PREPARE psd FROM SELECT n_name, count(*) AS cnt FROM nation " +
      "WHERE n_regionkey = ? GROUP BY n_name")
    val in = session.sql("DESCRIBE INPUT psd").collect()
    assert(in.map(r => (r.getLong(0), r.getString(1))).toSeq ==
      Seq((1L, "unknown")))
    val out = session.sql("DESCRIBE OUTPUT psd").collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq
    // reference type vocabulary (varchar, not Catalyst's string), the same
    // spellings SHOW COLUMNS reports
    assert(out == Seq(("n_name", "varchar"), ("cnt", "bigint")))
  }

  test("SET / SHOW / RESET SESSION with the hash_partition_count bridge") {
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    session.sql("SET SESSION hash_partition_count = 7")
    session.sql("SET SESSION optimize_hash_generation = 'true'")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    val shown = session.sql("SHOW SESSION").collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(shown("hash_partition_count") == "7" &&
      shown("optimize_hash_generation") == "true")
    session.sql("RESET SESSION hash_partition_count")
    session.sql("RESET SESSION optimize_hash_generation")
    assert(!session.sql("SHOW SESSION").collect()
      .exists(_.getString(0) == "hash_partition_count"))
    spark.conf.set("spark.sql.shuffle.partitions", before)
  }

  test("geometry_union_agg SQL name: union of disjoint squares per group") {
    val rows = session.sql(
      """SELECT n_nationkey % 5 AS g,
        |  ST_NumGeometries(geometry_union_agg(
        |    ST_GeometryFromText('POLYGON ((' || CAST(n_nationkey * 10 AS VARCHAR)
        |      || ' 0, ' || CAST(n_nationkey * 10 + 1 AS VARCHAR) || ' 0, '
        |      || CAST(n_nationkey * 10 + 1 AS VARCHAR) || ' 1, '
        |      || CAST(n_nationkey * 10 AS VARCHAR) || ' 1, '
        |      || CAST(n_nationkey * 10 AS VARCHAR) || ' 0))'))) AS n,
        |  ST_Area(geometry_union_agg(
        |    ST_GeometryFromText('POLYGON ((' || CAST(n_nationkey * 10 AS VARCHAR)
        |      || ' 0, ' || CAST(n_nationkey * 10 + 1 AS VARCHAR) || ' 0, '
        |      || CAST(n_nationkey * 10 + 1 AS VARCHAR) || ' 1, '
        |      || CAST(n_nationkey * 10 AS VARCHAR) || ' 1, '
        |      || CAST(n_nationkey * 10 AS VARCHAR) || ' 0))'))) AS area
        |FROM nation GROUP BY 1 ORDER BY g""".stripMargin)
      .collect().map(r => (r.get(0), r.getLong(1), r.getDouble(2)))
    assert(rows.length == 5)
    // 25 nations over 5 regions: each group unions its 5 disjoint unit
    // squares -> 5 parts, total area 5
    rows.foreach { case (g, n, area) =>
      assert(n == 5L, s"group $g: expected 5 parts, got $n")
      assert(math.abs(area - 5.0) < 1e-9, s"group $g area: $area")
    }
  }

  test("convex_hull_agg SQL name: hull of per-group points") {
    val rows = session.sql(
      """SELECT n_nationkey % 5 AS g,
        |  ST_GeometryType(convex_hull_agg(
        |    ST_Point(CAST(n_nationkey % 2 AS DOUBLE) * 4,
        |             CAST((n_nationkey / 2) % 2 AS DOUBLE) * 4))) AS t,
        |  ST_Area(convex_hull_agg(
        |    ST_Point(CAST(n_nationkey % 2 AS DOUBLE) * 4,
        |             CAST((n_nationkey / 2) % 2 AS DOUBLE) * 4))) AS area
        |FROM nation GROUP BY 1 ORDER BY g""".stripMargin)
      .collect().map(r => (r.get(0), r.getString(1), r.getDouble(2)))
    assert(rows.length == 5)
    // every region holds nations covering all 4 corners of the 4x4 square
    rows.foreach { case (g, t, area) =>
      assert(t == "ST_Polygon", s"group $g type: $t")
      assert(math.abs(area - 16.0) < 1e-9, s"group $g area: $area")
    }
  }

  test("create_vector_index SQL name routes to the persisted IVF builder") {
    val idx = new java.io.File(sys.props("java.io.tmpdir"),
      "graft_cvi_spec_" + System.nanoTime()).getPath
    Tables(spark, sf, "embeddings").createOrReplaceTempView("emb_cvi")
    val p = session.sql(
      s"""SELECT create_vector_index('emb_cvi', 'vec_id', 'embedding', 4,
         |  '$idx') AS path""".stripMargin).collect()(0).getString(0)
    assert(p == idx)
    val cells = graft.ops.SnapshotTable.read(spark,
      new java.io.File(idx, "cells"))
    val cents = graft.ops.SnapshotTable.read(spark,
      new java.io.File(idx, "centroids"))
    assert(cents.count() == 4)
    assert(cells.columns.toSeq == Seq("vec_id", "embedding", "cell"))
    // every corpus vector landed in exactly one of the 4 cells
    assert(cells.count() == Tables(spark, sf, "embeddings").count())
    assert(cells.select("cell").distinct().count() <= 4)
  }
}
