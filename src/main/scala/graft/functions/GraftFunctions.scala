package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, LambdaFunction, NamedLambdaVariable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{Bridge, RegexpReplaceLambda}

/** Registration of graft's custom Catalyst expressions, both as a
  * `SparkSessionExtensions` (config-time:
  * `spark.sql.extensions=graft.functions.GraftExtensions`) and as an
  * idempotent `register(spark)` for sessions built elsewhere — the overlay
  * pattern SURVEY.md §3.1 calls the dialect/function layer (reference
  * registry: MAIN/metadata/BuiltInTypeAndFunctionNamespaceManager.java:614).
  *
  * Column helpers are provided for the DataFrame API; SQL names match the
  * reference's function names so `spark.sql` text can use them directly.
  */
object GraftFunctions {

  /** Distribution CDF family registrations (DistributionFunctions.scala). */
  private val distEntries: Seq[(String, String, Seq[Expression] => Expression)] =
    Distributions.names2.map { n =>
      (n, s"$n(a, b) - ${n.replace('_', ' ')} (reference MathFunctions.java)",
        (es: Seq[Expression]) => DistCall.c2(n, es(0), es(1)))
    } ++ Distributions.names3.map { n =>
      (n, s"$n(a, b, c) - ${n.replace('_', ' ')} (reference MathFunctions.java)",
        (es: Seq[Expression]) => DistCall.c3(n, es(0), es(1), es(2)))
    }

  /** Reference spellings of functions Spark or graft has under another
    * name (SURVEY §7.3), each resolved as SQL text resolves its target:
    * graft's entry in [[all]], else Spark's builtin. `reduce` needs none
    * (Spark's is `aggregate`); `repeat` and `date_format` stay renames in
    * `api.Dialect`: Spark's builtins of those names mean something else. */
  private val aliasEntries: Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    "approx_distinct" -> "approx_count_distinct", "arbitrary" -> "any_value",
    "json_extract_scalar" -> "get_json_object", "codepoint" -> "ascii", "fail" -> "raise_error",
    "is_nan" -> "isnan", "starts_with" -> "startswith", "ends_with" -> "endswith",
    "jarowinkler_similarity" -> "jaro_winkler_similarity",
    "sketch_theta_estimate" -> "theta_sketch_estimate", "sketch_theta" -> "theta_sketch_agg",
    "split_to_map" -> "str_to_map", "to_base64" -> "base64", "from_base64" -> "unbase64",
    "to_hex" -> "hex", "from_hex" -> "unhex", "bitwise_and_agg" -> "bit_and",
    "bitwise_or_agg" -> "bit_or", "bitwise_xor_agg" -> "bit_xor", "all_match" -> "forall",
    "any_match" -> "exists", "from_iso8601_date" -> "to_date",
    "from_iso8601_timestamp" -> "to_timestamp", "format" -> "format_string",
    "day_of_month" -> "dayofmonth", "last_day_of_month" -> "last_day", "week" -> "weekofyear",
    "week_of_year" -> "weekofyear", "to_unixtime" -> "unix_timestamp",
    "from_unixtime_ms" -> "timestamp_millis",
    // TRY(expr): the error→NULL wrapper (functions/TryExpression.scala)
    "try" -> "try_expr",
    // KLL sketch family: our names carry the same arities
    "sketch_kll" -> "kll_sketch_agg", "sketch_kll_with_k" -> "kll_sketch_agg",
    "sketch_kll_quantile" -> "kll_quantile", "sketch_kll_rank" -> "kll_rank"
  ).map { case (name, target) =>
    (name, s"$name(...) - reference spelling of $target",
      (es: Seq[Expression]) => resolve(target, es))
  } ++ Seq[(String, String, Seq[Expression] => Expression)](
    // 3 arguments: the n-th occurrence (StringFunctions.java stringPosition)
    ("strpos", "strpos(s, sub[, n]) - instr, or the n-th occurrence of sub",
      es => resolve(if (es.length == 3) "graft_strpos3" else "instr", es)),
    // reference contains is array membership; Spark's serves the rest
    ("contains", "contains(a, x) - array_contains on an array, else Spark's contains",
      es => builtin(es.headOption.map(_.dataType) match {
        case Some(_: org.apache.spark.sql.types.ArrayType) => "array_contains"
        case _ => "contains"
      }, es)))

  private lazy val byName = all.map(e => e._1 -> e._3).toMap

  private def resolve(name: String, es: Seq[Expression]): Expression =
    byName.get(name).fold(builtin(name, es))(_(es))

  private def builtin(name: String, es: Seq[Expression]): Expression =
    org.apache.spark.sql.catalyst.analysis.FunctionRegistry.builtin
      .lookupFunction(FunctionIdentifier(name), es)

  /** name → (usage, builder) for every custom function. */
  val all: Seq[(String, String, Seq[Expression] => Expression)] = distEntries ++ aliasEntries ++ Seq[
    (String, String, Seq[Expression] => Expression)](
    ("jaro_winkler_similarity", "jaro_winkler_similarity(s1, s2) - Jaro-Winkler similarity in [0,1]",
      es => JaroWinklerSimilarity(es(0), es(1))),
    ("hamming_distance", "hamming_distance(s1, s2) - positions differing between equal-length strings",
      es => HammingDistance(es(0), es(1))),
    ("word_stem", "word_stem(word) - Porter stem of an English word",
      es => WordStem(es.head)),
    ("wordpiece_encode",
      "wordpiece_encode(text, vocab) - greedy longest-match subword tokens",
      es => WordPieceEncode(es(0), es(1))),
    ("bpe_encode",
      "bpe_encode(text, merges) - exact rank-ordered byte-pair encoding",
      es => BpeEncode(es(0), es(1))),
    ("myanmar_font_encoding",
      "myanmar_font_encoding(s) - 'zawgyi' or 'unicode' font-encoding label",
      es => MyanmarFontEncoding(es.head)),
    ("myanmar_normalize_unicode",
      "myanmar_normalize_unicode(s) - Zawgyi lines transliterated to Unicode",
      es => MyanmarNormalizeUnicode(es.head)),
    ("try_expr", "try_expr(expr) - NULL instead of failure on runtime error",
      es => TryExpression(es.head)),
    ("strict_subscript",
      "strict_subscript(x, i) - reference-contract x[i]: raises on OOB index / missing map key",
      es => StrictSubscript(es(0), es(1))),
    ("graft_strpos3",
      "graft_strpos3(s, sub, n) - reference strpos occurrence variant (n-th match, negative = from end)",
      es => StrPosInstance(es(0), es(1), es(2))),
    ("murmur3_x64_128",
      "murmur3_x64_128(varbinary) - 16-byte MurmurHash3 x64 128 digest",
      es => Murmur3Hash128(es.head)),
    ("google_polyline_encode",
      "google_polyline_encode(array<point>) - Google encoded polyline",
      es => PolylineEncode(es.head)),
    ("google_polyline_decode",
      "google_polyline_decode(varchar) - decode polyline to point array",
      es => PolylineDecode(es.head)),
    ("secure_random",
      "secure_random(lower, upper) - SecureRandom double in [lower, upper)",
      es => SecureRandomExpr(dbl(es(0)), dbl(es(1)))),
    ("to_milliseconds",
      "to_milliseconds(interval day to second) - total milliseconds",
      es => IntervalMillis(es.head)),
    ("sketch_theta_summary",
      "sketch_theta_summary(sketch) - row(estimate, theta, bounds, retained)",
      es => ThetaSummary(es.head)),
    ("geometric_mean",
      "geometric_mean(x) - exp of the mean of ln(x) (reference GeometricMeanAggregations)",
      es => org.apache.spark.sql.catalyst.expressions.Exp(
        org.apache.spark.sql.catalyst.expressions.aggregate.Average(
          org.apache.spark.sql.catalyst.expressions.Log(dbl(es.head)))
          .toAggregateExpression())),
    ("zorder",
      "zorder(ROW(c1, c2, ...)) - interleaved Z-order curve key as varbinary (presto-iceberg IcebergZOrderFunctions)",
      es => ZOrderExpr(es)),
    ("apply_changelog",
      "apply_changelog(ordinal, operation, row) - CDC fold to latest surviving row (presto-iceberg changelog)",
      es => ApplyChangelog(es(0), es(1), es(2)).toAggregateExpression()),
    ("classification_precision",
      "classification_precision(buckets, outcome, pred[, weight]) - precision sweep array",
      es => classificationAgg(es, "precision")),
    ("classification_recall",
      "classification_recall(buckets, outcome, pred[, weight]) - recall sweep array",
      es => classificationAgg(es, "recall")),
    ("classification_miss_rate",
      "classification_miss_rate(buckets, outcome, pred[, weight]) - miss-rate sweep array",
      es => classificationAgg(es, "miss_rate")),
    ("classification_fall_out",
      "classification_fall_out(buckets, outcome, pred[, weight]) - fall-out sweep array",
      es => classificationAgg(es, "fall_out")),
    ("classification_thresholds",
      "classification_thresholds(buckets, outcome, pred[, weight]) - threshold array",
      es => classificationAgg(es, "thresholds")),
    ("mysql_date_format",
      "mysql_date_format(ts, '%Y-%m-%d') - reference-dialect date_format (MySQL patterns)",
      es => {
        // literal pattern folds to a literal Java pattern (cached formatter);
        // a non-literal pattern column converts per row (reference permits
        // expressions as the format argument)
        val fmt = es(1) match {
          case e if e.foldable => e.eval(null) match {
            case s: org.apache.spark.unsafe.types.UTF8String =>
              org.apache.spark.sql.catalyst.expressions.Literal(
                MySqlFormat.toJava(s.toString))
            case other => throw new IllegalArgumentException(
              s"mysql_date_format: format must be a string, got $other")
          }
          case e => MySqlPatternToJava(e)
        }
        org.apache.spark.sql.catalyst.expressions.DateFormatClass(es(0), fmt)
      }),
    ("json_parse", "json_parse(varchar) - validate + canonicalize (sorted keys) JSON text",
      es => JsonParseExpr(es.head)),
    ("json_format", "json_format(json) - JSON value as text (identity on the varchar encoding)",
      es => es.head),
    ("is_json_scalar", "is_json_scalar(json) - true for number/string/bool/null",
      es => IsJsonScalar(es.head)),
    ("json_array_length", "json_array_length(json) - element count, NULL when not an array",
      es => JsonArrayLength(es.head)),
    ("json_array_contains", "json_array_contains(json, value) - scan top-level scalars",
      es => JsonArrayContains(es(0), es(1))),
    ("json_array_get", "json_array_get(json, index) - element at index (negative from end)",
      es => JsonArrayGet(es(0), asLong(es(1)))),
    ("json_extract", "json_extract(json, path) - JSON text at a Presto-JSONPath",
      es => JsonExtractJson(es(0), es(1))),
    ("json_size", "json_size(json, path) - container size / 0 for scalars at path",
      es => JsonSize(es(0), es(1))),
    ("qdigest_agg", "qdigest_agg(x[, w]) - mergeable quantile digest sketch, optionally weighted",
      es => QDigestAgg(es.head, es.drop(1).headOption).toAggregateExpression()),
    ("approx_percentile_w",
      "approx_percentile_w(x, w, p) - weighted approximate percentile",
      es => {
        val p = if (es(2).foldable) es(2).eval(null) else null
        p match {
          case n: Number =>
            ApproxPercentileWeightedAgg(es(0), es(1), n.doubleValue())
              .toAggregateExpression()
          case _ => throw new IllegalArgumentException(
            s"approx_percentile_w: percentage must be a foldable numeric literal, got ${es(2).sql}")
        }
      }),
    ("merge_qdigest", "merge_qdigest(sketch) - merge quantile digests",
      es => QDigestMergeAgg(es.head).toAggregateExpression()),
    ("value_at_quantile", "value_at_quantile(sketch, q) - quantile from a digest",
      es => ValueAtQuantile(es(0), dbl(es(1)))),
    ("tdigest_agg", "tdigest_agg(x) - mergeable t-digest sketch (tail-accurate quantiles)",
      es => TDigestAgg(es.head).toAggregateExpression()),
    ("merge_tdigest", "merge_tdigest(sketch) - merge t-digests",
      es => TDigestMergeAgg(es.head).toAggregateExpression()),
    ("tdigest_value_at_quantile", "tdigest_value_at_quantile(sketch, q) - quantile from a t-digest",
      es => TDigestValueAtQuantile(es(0), dbl(es(1)))),
    ("quantile_at_value", "quantile_at_value(sketch, x) - rank of x in [0,1] from a t-digest",
      es => QuantileAtValue(es(0), dbl(es(1)))),
    ("trimmed_mean", "trimmed_mean(sketch, lo, hi) - mean of values between quantiles lo..hi",
      es => TrimmedMean(es(0), dbl(es(1)), dbl(es(2)))),
    ("kll_sketch_agg",
      "kll_sketch_agg(x[, k]) - mergeable KLL quantile sketch (reference sketch_kll / sketch_kll_with_k)",
      es => {
        val k = es.drop(1).headOption.map { e =>
          val v = if (e.foldable) e.eval(null) else null
          v match {
            case n: Number => n.intValue()
            case _ => throw new IllegalArgumentException(
              s"kll_sketch_agg: k must be a foldable integer literal, got ${e.sql}")
          }
        }
        KllSketchAgg(es.head, k.getOrElse(Kll.DefaultK)).toAggregateExpression()
      }),
    ("merge_kll", "merge_kll(sketch) - merge KLL sketches",
      es => KllMergeAgg(es.head).toAggregateExpression()),
    ("kll_quantile", "kll_quantile(sketch, q) - discrete quantile (a retained input value)",
      es => KllQuantile(es(0), dbl(es(1)))),
    ("kll_rank", "kll_rank(sketch, x) - fraction of values <= x",
      es => KllRank(es(0), dbl(es(1)))),
    ("theta_sketch_agg", "theta_sketch_agg(x[, k]) - mergeable theta sketch (set-algebra distinct count)",
      es =>
        (if (es.length > 1) ThetaSketchAgg(es.head, intArg(es(1), "theta_sketch_agg"))
         else ThetaSketchAgg(es.head)).toAggregateExpression()),
    ("merge_theta", "merge_theta(sketch) - aggregate union of theta sketches",
      es => ThetaMergeAgg(es.head).toAggregateExpression()),
    ("theta_sketch_estimate", "theta_sketch_estimate(sketch) - distinct-count estimate",
      es => ThetaEstimate(es.head)),
    ("theta_sketch_union", "theta_sketch_union(a, b) - sketch of the set union",
      es => ThetaUnion(es(0), es(1))),
    ("theta_sketch_intersect", "theta_sketch_intersect(a, b) - sketch of the set intersection",
      es => ThetaIntersect(es(0), es(1))),
    ("theta_sketch_a_not_b", "theta_sketch_a_not_b(a, b) - sketch of the set difference",
      es => ThetaANotB(es(0), es(1))),
    ("cosine_similarity",
      "cosine_similarity(v1, v2) - cosine of two float vectors, or of sparse map<varchar,double> vectors",
      es => CosineDispatch(es(0), es(1))),
    ("width_bucket",
      "width_bucket(x, bins) / width_bucket(x, lo, hi, n) - bucket index for explicit or uniform bins",
      es => es.length match {
        case 2 => WidthBucketArray(dbl(es(0)),
          org.apache.spark.sql.catalyst.expressions.Cast(es(1),
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.DoubleType)))
        case 4 => org.apache.spark.sql.catalyst.expressions.WidthBucket(
          dbl(es(0)), dbl(es(1)), dbl(es(2)),
          org.apache.spark.sql.catalyst.expressions.Cast(es(3),
            org.apache.spark.sql.types.LongType))
        case n => throw new IllegalArgumentException(
          s"width_bucket takes 2 or 4 arguments, got $n")
      }),
    ("dot_product", "dot_product(v1, v2) - double-precision dot of two float vectors",
      es => DotProduct(es(0), es(1))),
    ("l2_squared", "l2_squared(v1, v2) - squared euclidean distance of two float vectors",
      es => L2Squared(es(0), es(1))),
    ("vec_pack", "vec_pack(v) - array<float> to packed little-endian float32 varbinary",
      es => VecPack(es.head)),
    ("vec_unpack", "vec_unpack(b) - packed float32 varbinary back to array<float>",
      es => VecUnpack(es.head)),
    ("cosine_packed", "cosine_packed(b1, b2) - cosine over packed float32 varbinary",
      es => CosinePacked(es(0), es(1))),
    ("dot_packed", "dot_packed(b1, b2) - dot product over packed float32 varbinary",
      es => DotPacked(es(0), es(1))),
    ("l2_squared_packed", "l2_squared_packed(b1, b2) - squared L2 over packed float32 varbinary",
      es => L2SquaredPacked(es(0), es(1))),
    ("create_vector_index",
      "create_vector_index(table, idCol, embCol, k, path) - build (idempotently) the persisted cell-partitioned IVF index; returns the index path",
      es => {
        // the reference's create_vector_index seed
        // (CreateVectorIndexAggregation.java:37; the real index lives in
        // the presto-lance connector) routed to the persisted-IVF builder
        // (ops/Similarity.scala). Arguments must be literals; the build
        // runs driver-side at resolution, like a DDL statement.
        def lit(i: Int, what: String): Any = es(i) match {
          case org.apache.spark.sql.catalyst.expressions.Literal(v, _) => v
          case other => throw new IllegalArgumentException(
            s"create_vector_index: $what must be a literal, got ${other.sql}")
        }
        def str(i: Int, what: String): String =
          String.valueOf(lit(i, what))
        val k = lit(3, "k") match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"create_vector_index: k must be an integer literal, got $other")
        }
        val path = graft.ops.Similarity.createVectorIndex(
          SparkSession.active, str(0, "table"), str(1, "idCol"),
          str(2, "embCol"), k, str(4, "path"))
        org.apache.spark.sql.catalyst.expressions.Literal(path)
      }),
    ("approx_set", "approx_set(x) - mergeable HyperLogLog sketch of the distinct values",
      es => HllSketchAgg(es.head).toAggregateExpression()),
    ("merge",
      "merge(sketch) - union of stored sketches of any type, dispatching on the value's type tag",
      es => SketchMergeAgg(es.head).toAggregateExpression()),
    ("reservoir_sample",
      "reservoir_sample(initial_sample, initial_count, value, k[, seed]) - resumable fixed-size uniform sample: row(processed_count, sample)",
      es => {
        require(es.length == 4 || es.length == 5,
          s"reservoir_sample takes 4 or 5 arguments, got ${es.length}")
        val seed = if (es.length > 4) Some(intArg(es(4), "reservoir_sample").toLong) else None
        ReservoirSampleAgg(es(0), es(1), es(2),
          intArg(es(3), "reservoir_sample"), seed).toAggregateExpression()
      }),
    ("cardinality",
      "cardinality(x) - elements of an array/map, or distinct estimate of a sketch varbinary",
      es => CardinalityDispatch(es.head)),
    ("graft_enum_cast",
      "graft_enum_cast(def, x) - membership-validated enum cast (dialect-spliced)",
      es => EnumCast(strArg(es(0), "graft_enum_cast"), es(1))),
    ("graft_enum_key",
      "graft_enum_key(def, x) - key for an enum value (dialect-spliced enum_key)",
      es => EnumKey(strArg(es(0), "graft_enum_key"), es(1))),
    ("merge_hll", "merge_hll(sketch) - merge HyperLogLog sketches",
      es => HllMergeAgg(es.head).toAggregateExpression()),
    ("hll_cardinality", "hll_cardinality(sketch) - estimated distinct count of a sketch",
      es => HllCardinality(es.head)),
    ("hmac_md5", "hmac_md5(data, key) - HMAC-MD5 of varbinary data",
      es => Hmac(es(0), es(1), "HmacMD5")),
    ("hmac_sha1", "hmac_sha1(data, key) - HMAC-SHA1 of varbinary data",
      es => Hmac(es(0), es(1), "HmacSHA1")),
    ("hmac_sha256", "hmac_sha256(data, key) - HMAC-SHA256 of varbinary data",
      es => Hmac(es(0), es(1), "HmacSHA256")),
    ("hmac_sha512", "hmac_sha512(data, key) - HMAC-SHA512 of varbinary data",
      es => Hmac(es(0), es(1), "HmacSHA512")),
    ("make_set_digest", "make_set_digest(x) - mergeable MinHash/KMV set sketch",
      es => SetDigestAgg(es.head).toAggregateExpression()),
    ("merge_set_digest", "merge_set_digest(sketch) - merge set digests",
      es => SetDigestMergeAgg(es.head).toAggregateExpression()),
    ("set_digest_cardinality", "set_digest_cardinality(sketch) - estimated distinct count",
      es => SetDigestCardinality(es.head)),
    ("set_digest_jaccard_index",
      "set_digest_jaccard_index(d1, d2) - typed SetDigest Jaccard (accepts raw legacy bytes)",
      es => JaccardIndex(es(0), es(1))),
    ("set_digest_intersection_cardinality",
      "set_digest_intersection_cardinality(d1, d2) - typed SetDigest |A∩B| (accepts raw legacy bytes)",
      es => IntersectionCardinality(es(0), es(1))),
    ("jaccard_index",
      "jaccard_index(d1, d2) - MinHash Jaccard estimate (SetDigest or KHLL, tag-dispatched)",
      es => SketchJaccard(es(0), es(1))),
    ("intersection_cardinality",
      "intersection_cardinality(d1, d2) - estimated |A∩B| (SetDigest or KHLL, tag-dispatched)",
      es => SketchIntersection(es(0), es(1))),
    ("date_add",
      "date_add(unit, n, ts) - reference interval arithmetic; 2-arg form is Spark's day add",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{Cast, DateAdd, Literal, TimestampAdd}
        es match {
          case Seq(d, n) => DateAdd(d, n)
          case Seq(u, n, ts) =>
            val unit = (if (u.foldable) u.eval(null) else null) match {
              case s: org.apache.spark.unsafe.types.UTF8String => s.toString
              case _ => throw new IllegalArgumentException(
                "date_add: unit must be a string literal")
            }
            val added = TimestampAdd(unit.toUpperCase, asLong(n), ts)
            if (ts.dataType == org.apache.spark.sql.types.DateType)
              Cast(added, org.apache.spark.sql.types.DateType)
            else added
          case _ => throw new IllegalArgumentException(
            s"date_add takes 2 or 3 arguments, got ${es.length}")
        }
      }),
    ("date_diff",
      "date_diff(unit, t1, t2) - t2 minus t1 in the given unit (reference DateTimeFunctions)",
      es => {
        import org.apache.spark.sql.catalyst.expressions.TimestampDiff
        val unit = (if (es(0).foldable) es(0).eval(null) else null) match {
          case s: org.apache.spark.unsafe.types.UTF8String => s.toString
          case _ => throw new IllegalArgumentException(
            "date_diff: unit must be a string literal")
        }
        TimestampDiff(unit.toUpperCase, es(1), es(2))
      }),
    ("parse_datetime",
      "parse_datetime(s, fmt) - timestamp from a Joda-style pattern (java.time subset)",
      es => org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(
        es(0), Some(es(1)), org.apache.spark.sql.types.TimestampType)),
    ("format_datetime",
      "format_datetime(ts, fmt) - format with a Joda-style pattern (java.time subset)",
      es => org.apache.spark.sql.catalyst.expressions.DateFormatClass(es(0), es(1))),
    ("millisecond", "millisecond(ts) - millisecond of the second",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{Literal, Pmod, UnixMillis}
        if (TimeTzFunctions.isTimeTz(es.head.dataType))
          rc(TimeTzFunctions.millisecondTz(c(es.head)).cast("long"))
        else if (TimestampTzFunctions.isTimestampTz(es.head.dataType))
          rc(TimestampTzFunctions.millisecondTz(c(es.head)).cast("long"))
        else Pmod(UnixMillis(cast(es.head,
          org.apache.spark.sql.types.TimestampType)), Literal(1000L))
      }),
    ("day_of_week", "day_of_week(d) - ISO day of week (Monday = 1)",
      es => isoDayOfWeek(es.head)),
    ("dow", "dow(d) - alias of day_of_week", es => isoDayOfWeek(es.head)),
    ("day_of_year", "day_of_year(d) - day of the year",
      es => org.apache.spark.sql.catalyst.expressions.DayOfYear(
        cast(es.head, org.apache.spark.sql.types.DateType))),
    ("doy", "doy(d) - alias of day_of_year",
      es => org.apache.spark.sql.catalyst.expressions.DayOfYear(
        cast(es.head, org.apache.spark.sql.types.DateType))),
    ("ip_prefix", "ip_prefix(ip, len) - CIDR prefix with host bits zeroed (IPv4)",
      es => IpExpr(Seq(es(0), asLong(es(1))), "ip_prefix")),
    ("ip_subnet_min", "ip_subnet_min(prefix) - first address of the subnet",
      es => IpExpr(es.take(1), "ip_subnet_min")),
    ("ip_subnet_max", "ip_subnet_max(prefix) - last address of the subnet",
      es => IpExpr(es.take(1), "ip_subnet_max")),
    ("ip_subnet_range", "ip_subnet_range(prefix) - [min, max] addresses",
      es => IpExpr(es.take(1), "ip_subnet_range")),
    ("is_subnet_of", "is_subnet_of(prefix, ip_or_prefix) - containment test",
      es => IpExpr(es.take(2), "is_subnet_of")),
    ("is_private_ip", "is_private_ip(ip) - RFC special-purpose range membership",
      es => IpExpr(es.take(1), "is_private_ip")),
    ("ip_prefix_collapse", "ip_prefix_collapse(prefixes) - minimal merged CIDR cover",
      es => IpExpr(es.take(1), "ip_prefix_collapse")),
    ("ip_prefix_subnets", "ip_prefix_subnets(prefix, len) - subnets of the given length",
      es => IpExpr(Seq(es(0), asLong(es(1))), "ip_prefix_subnets")),
    ("to_big_endian_64", "to_big_endian_64(x) - bigint as 8 big-endian bytes",
      es => BinConvExpr(es.head, "to_big_endian_64")),
    ("from_big_endian_64", "from_big_endian_64(b) - bigint from 8 big-endian bytes",
      es => BinConvExpr(es.head, "from_big_endian_64")),
    ("to_big_endian_32", "to_big_endian_32(x) - integer as 4 big-endian bytes",
      es => BinConvExpr(cast(es.head, org.apache.spark.sql.types.IntegerType),
        "to_big_endian_32")),
    ("from_big_endian_32", "from_big_endian_32(b) - integer from 4 big-endian bytes",
      es => BinConvExpr(es.head, "from_big_endian_32")),
    ("to_ieee754_64", "to_ieee754_64(x) - double as IEEE-754 big-endian bytes",
      es => BinConvExpr(es.head, "to_ieee754_64")),
    ("from_ieee754_64", "from_ieee754_64(b) - double from IEEE-754 bytes",
      es => BinConvExpr(es.head, "from_ieee754_64")),
    ("to_ieee754_32", "to_ieee754_32(x) - real as IEEE-754 big-endian bytes",
      es => BinConvExpr(cast(es.head, org.apache.spark.sql.types.FloatType),
        "to_ieee754_32")),
    ("from_ieee754_32", "from_ieee754_32(b) - real from IEEE-754 bytes",
      es => BinConvExpr(es.head, "from_ieee754_32")),
    ("destructure_tdigest",
      "destructure_tdigest(sketch) - internal state row (means, weights, compression, min, max, sum, count)",
      es => DestructureTDigest(es.head)),
    ("construct_tdigest",
      "construct_tdigest(means, weights, compression, min, max) - sketch from internal state",
      es => ConstructTDigest(es(0), es(1), dbl(es(2)), dbl(es(3)), dbl(es(4)))),
    ("parse_presto_data_size",
      "parse_presto_data_size(s) - '1.5MB' to exact bytes as decimal(38,0)",
      es => ParsePrestoDataSize(es.head)),
    ("fnv1_32", "fnv1_32(b) - FNV-1 32-bit hash", es => BinConvExpr(es.head, "fnv1_32")),
    ("fnv1_64", "fnv1_64(b) - FNV-1 64-bit hash", es => BinConvExpr(es.head, "fnv1_64")),
    ("fnv1a_32", "fnv1a_32(b) - FNV-1a 32-bit hash", es => BinConvExpr(es.head, "fnv1a_32")),
    ("fnv1a_64", "fnv1a_64(b) - FNV-1a 64-bit hash", es => BinConvExpr(es.head, "fnv1a_64")),
    ("combine_hash", "combine_hash(h1, h2) - 31*h1 + h2, Java wrapping (reference CombineHashFunction)",
      es => CombineHash(asLong(es(0)), asLong(es(1)))),
    ("longest_common_prefix", "longest_common_prefix(a, b) - shared code-point prefix",
      es => LongestCommonPrefix(es(0), es(1))),
    ("strrpos", "strrpos(s, sub) - 1-based index of the LAST occurrence, 0 if absent",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{Add, CaseWhen, Cast, EqualTo, Length, Literal, Reverse, StringInstr, Subtract}
        val lastPos = Cast(Add(Subtract(
          Subtract(Length(es(0)), StringInstr(Reverse(es(0)), Reverse(es(1)))),
          Length(es(1))), Literal(2)), org.apache.spark.sql.types.LongType)
        CaseWhen(
          Seq((EqualTo(StringInstr(es(0), es(1)), Literal(0)), Literal(0L))),
          Some(lastPos))
      }),
    ("remove_nulls", "remove_nulls(a) - array without null elements",
      es => rc(ArrayMapExtras.removeNulls(c(es.head)))),
    ("array_average", "array_average(a) - mean ignoring nulls, NULL on empty",
      es => rc(ArrayMapExtras.arrayAverage(c(es.head)))),
    ("array_sort_desc", "array_sort_desc(a) - non-null descending, nulls last",
      es => rc(ArrayMapExtras.arraySortDesc(c(es.head)))),
    ("array_top_n", "array_top_n(a, n) - top n by descending natural order",
      es => rc(ArrayMapExtras.arrayTopN(c(es(0)), intArg(es(1), "array_top_n")))),
    ("array_split_into_chunks", "array_split_into_chunks(a, n) - n-sized chunks",
      es => rc(ArrayMapExtras.arraySplitIntoChunks(c(es(0)),
        intArg(es(1), "array_split_into_chunks")))),
    ("array_frequency", "array_frequency(a) - map of value to occurrence count",
      es => rc(ArrayMapExtras.arrayFrequency(c(es.head)))),
    ("array_duplicates", "array_duplicates(a) - values appearing more than once",
      es => rc(ArrayMapExtras.arrayDuplicates(c(es.head)))),
    ("array_has_duplicates", "array_has_duplicates(a) - any value repeated",
      es => rc(ArrayMapExtras.arrayHasDuplicates(c(es.head)))),
    ("array_least_frequent", "array_least_frequent(a[, n]) - n rarest values",
      es => rc(ArrayMapExtras.arrayLeastFrequent(c(es.head),
        if (es.length > 1) intArg(es(1), "array_least_frequent") else 1))),
    ("array_transpose", "array_transpose(a) - matrix transpose of nested arrays",
      es => rc(ArrayMapExtras.arrayTranspose(c(es.head)))),
    ("array_max_by", "array_max_by(a, f) - element maximizing f (null f-values skipped)",
      es => org.apache.spark.sql.graftbridge.ArrayMinMaxBy(es(0), es(1),
        isMax = true)),
    ("array_min_by", "array_min_by(a, f) - element minimizing f (null f-values skipped)",
      es => org.apache.spark.sql.graftbridge.ArrayMinMaxBy(es(0), es(1),
        isMax = false)),
    ("array_intersect",
      "array_intersect(a, b) / array_intersect(array<array<T>>) - pairwise builtin or n-ary fold",
      es =>
        if (es.length == 1) rc(ArrayMapExtras.arrayIntersectAll(c(es.head)))
        else builtin("array_intersect", es)),
    ("replace_first",
      "replace_first(str, search, replace) - replace only the first occurrence",
      es => rc(StringExtras.replaceFirst(c(es(0)), c(es(1)), c(es(2))))),
    ("trail", "trail(str, n) - last n characters",
      es => rc(StringExtras.trail(c(es(0)), c(es(1))))),
    ("split_part_reverse",
      "split_part_reverse(str, delim, idx) - split field, negative idx from the end",
      es => rc(StringExtras.splitPartReverse(c(es(0)), c(es(1)), c(es(2))))),
    ("combinations", "combinations(a, n) - n-element subsequences (n <= 5)",
      es => rc(ArrayMapExtras.combinations(c(es(0)), intArg(es(1), "combinations")))),
    ("map_top_n", "map_top_n(m, n) - n entries with the largest values",
      es => rc(ArrayMapExtras.mapTopN(c(es(0)), intArg(es(1), "map_top_n")))),
    ("map_top_n_keys", "map_top_n_keys(m, n) - n largest keys",
      es => rc(ArrayMapExtras.mapTopNKeys(c(es(0)), intArg(es(1), "map_top_n_keys")))),
    ("map_top_n_values", "map_top_n_values(m, n) - n largest values",
      es => rc(ArrayMapExtras.mapTopNValues(c(es(0)),
        intArg(es(1), "map_top_n_values")))),
    ("map_keys_by_top_n_values", "map_keys_by_top_n_values(m, n)",
      es => rc(ArrayMapExtras.mapKeysByTopNValues(c(es(0)),
        intArg(es(1), "map_keys_by_top_n_values")))),
    ("map_key_exists", "map_key_exists(m, k) - key membership",
      es => rc(ArrayMapExtras.mapKeyExists(c(es(0)), c(es(1))))),
    ("map_remove_null_values", "map_remove_null_values(m)",
      es => rc(ArrayMapExtras.mapRemoveNullValues(c(es.head)))),
    ("map_normalize", "map_normalize(m) - values scaled to sum to 1",
      es => rc(ArrayMapExtras.mapNormalize(c(es.head)))),
    ("map_subset", "map_subset(m, keys) - entries whose key is in keys",
      es => rc(ArrayMapExtras.mapSubset(c(es(0)), c(es(1))))),
    ("map_int_keys_to_array",
      "map_int_keys_to_array(m) - positions 1..max key, NULL where absent",
      es => rc(ArrayMapExtras.mapIntKeysToArray(c(es.head)))),
    ("array_to_map_int_keys",
      "array_to_map_int_keys(a) - 1-based index -> non-null element map",
      es => rc(ArrayMapExtras.arrayToMapIntKeys(c(es.head)))),
    ("key_sampling_percent",
      "key_sampling_percent(s) - stable [0,1) hash bucket for key-based sampling",
      es => rc(ArrayMapExtras.keySamplingPercent(c(es.head)))),
    // ---- Teradata compatibility (presto-teradata-functions) ----
    ("index", "index(string, substring) - 1-based position, 0 if absent (Teradata)",
      es => asLong(org.apache.spark.sql.catalyst.expressions.StringInstr(es(0), es(1)))),
    ("char2hexint", "char2hexint(s) - uppercase hex of the UTF-16BE encoding",
      es => Char2HexInt(es.head)),
    ("to_char",
      "to_char(ts, 'YYYY-MM-DD') - Teradata-format datetime print (numeric falls through to Spark)",
      es => teradataToChar(es)),
    ("to_date",
      "to_date(s[, 'YYYY-MM-DD']) - Teradata-format date parse (java patterns pass through)",
      es =>
        if (es.length == 1)
          new org.apache.spark.sql.catalyst.expressions.ParseToDate(es(0))
        else new org.apache.spark.sql.catalyst.expressions.ParseToDate(es(0),
          teradataFmt(es(1)))),
    ("to_timestamp",
      "to_timestamp(s[, 'YYYY-MM-DD HH24:MI:SS']) - Teradata-format timestamp parse",
      es =>
        if (es.length == 1)
          new org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(es(0))
        else new org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(es(0),
          teradataFmt(es(1)))),
    ("all_keys_match", "all_keys_match(m, f) - every key satisfies the lambda",
      es => org.apache.spark.sql.catalyst.expressions.ArrayForAll(
        org.apache.spark.sql.catalyst.expressions.MapKeys(es(0)), es(1))),
    ("any_keys_match", "any_keys_match(m, f) - some key satisfies the lambda",
      es => org.apache.spark.sql.catalyst.expressions.ArrayExists(
        org.apache.spark.sql.catalyst.expressions.MapKeys(es(0)), es(1))),
    ("no_keys_match", "no_keys_match(m, f) - no key satisfies the lambda",
      es => org.apache.spark.sql.graftbridge.ArrayNoneMatch(
        org.apache.spark.sql.catalyst.expressions.MapKeys(es(0)), es(1))),
    ("any_values_match", "any_values_match(m, f) - some value satisfies the lambda",
      es => org.apache.spark.sql.catalyst.expressions.ArrayExists(
        org.apache.spark.sql.catalyst.expressions.MapValues(es(0)), es(1))),
    ("no_values_match", "no_values_match(m, f) - no value satisfies the lambda",
      es => org.apache.spark.sql.graftbridge.ArrayNoneMatch(
        org.apache.spark.sql.catalyst.expressions.MapValues(es(0)), es(1))),
    ("none_match", "none_match(a, f) - true when no element matches (three-valued)",
      es => org.apache.spark.sql.graftbridge.ArrayNoneMatch(es(0), es(1))),
    ("find_first", "find_first(a, f) - first element matching the lambda, NULL if none",
      es => org.apache.spark.sql.graftbridge.ArrayFindFirst(es(0), es(1),
        returnIndex = false)),
    ("find_first_index",
      "find_first_index(a, f) - 1-based index of the first lambda match, NULL if none",
      es => org.apache.spark.sql.graftbridge.ArrayFindFirst(es(0), es(1),
        returnIndex = true)),
    ("array_sum",
      "array_sum(a) - sum of non-null elements as DOUBLE (reference returns the element type)",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{Add, ArrayAggregate, Coalesce, Literal}
        val v = NamedLambdaVariable("v",
          org.apache.spark.sql.types.DoubleType, nullable = true)
        val acc = NamedLambdaVariable("acc",
          org.apache.spark.sql.types.DoubleType, nullable = false)
        val arr = cast(es.head, org.apache.spark.sql.types.ArrayType(
          org.apache.spark.sql.types.DoubleType, containsNull = true))
        ArrayAggregate(
          arr,
          Literal(0.0),
          LambdaFunction(Add(acc, Coalesce(Seq(v, Literal(0.0)))), Seq(acc, v)),
          LambdaFunction(acc, Seq(acc)))
      }),
    ("trim_array", "trim_array(a, n) - array without its last n elements; errors when n > cardinality",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{CaseWhen, Cast, GreaterThan, Literal, RaiseError, Size, Slice, Subtract}
        val n = Cast(es(1), org.apache.spark.sql.types.IntegerType)
        // reference ArrayTrimFunction raises INVALID_FUNCTION_ARGUMENT when
        // n exceeds the cardinality — error-contract parity, not a clamp
        CaseWhen(
          Seq((GreaterThan(n, Size(es(0))), RaiseError(Literal(
            "size must not exceed array cardinality")))),
          Some(Slice(es(0), Literal(1), Subtract(Size(es(0)), n))))
      }),
    ("year_of_week", "year_of_week(d) - ISO-8601 week-numbering year",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{Add, Cast, DateAdd, DayOfWeek, Literal, Remainder, Subtract, Year}
        val d = cast(es.head, org.apache.spark.sql.types.DateType)
        val isoDow = Add(Remainder(Add(DayOfWeek(d), Literal(5)), Literal(7)),
          Literal(1))
        Cast(Year(DateAdd(d, Subtract(Literal(4), isoDow))),
          org.apache.spark.sql.types.LongType)
      }),
    ("to_base32", "to_base32(b) - RFC 4648 base32 text",
      es => BinConvExpr(es.head, "to_base32")),
    ("from_base32", "from_base32(s) - varbinary from base32 text",
      es => BinConvExpr(es.head, "from_base32")),
    ("to_base64url", "to_base64url(b) - URL-safe base64 text",
      es => BinConvExpr(es.head, "to_base64url")),
    ("from_base64url", "from_base64url(s) - varbinary from URL-safe base64",
      es => BinConvExpr(es.head, "from_base64url")),
    ("ngrams", "ngrams(a, n) - sliding n-element windows of an array",
      es => {
        val n = intArg(es(1), "ngrams")
        require(n > 0, "ngrams: n must be positive")
        rc({
          val a = c(es(0))
          transform(sequence(lit(1), greatest(size(a) - (n - 1), lit(1))),
            i => slice(a, i, lit(n)))
        })
      }),
    ("at_timezone", "at_timezone(ts, zone) - same instant rendered in zone",
      es =>
        if (TimeTzFunctions.isTimeTz(es.head.dataType))
          rc(TimeTzFunctions.atTimezone(c(es(0)), c(es(1))))
        else if (TimestampTzFunctions.isTimestampTz(es.head.dataType))
          rc(TimestampTzFunctions.atTimezone(c(es(0)), c(es(1))))
        else org.apache.spark.sql.catalyst.expressions.FromUTCTimestamp(
          es(0), es(1))),
    ("with_timezone", "with_timezone(ts, zone) - wall time declared in zone",
      es => org.apache.spark.sql.catalyst.expressions.ToUTCTimestamp(
        es(0), es(1))),
    // ---- time with time zone (TimeTzFunctions; per-value zones) --------
    ("graft_timetz",
      "graft_timetz('H:MM[:SS[.fff]] zone') - time with time zone value",
      es => rc(TimeTzFunctions.parse(c(es.head)))),
    ("graft_to_timetz",
      "graft_to_timetz(x) - CAST(x AS TIME WITH TIME ZONE) kernel",
      es => rc(toTimeTz(es.head))),
    ("graft_timetz_format",
      "graft_timetz_format(t) - reference varchar rendering 'HH:mm:ss.SSS +HH:MM'",
      es => rc(TimeTzFunctions.format(c(es.head)))),
    ("hour", "hour(x) - hour of day (tz-carrying types: local hour)",
      es => timeTzOverload("hour", es, TimeTzFunctions.hourTz,
        TimestampTzFunctions.hourTz)),
    ("minute", "minute(x) - minute of hour (tz-carrying types: local)",
      es => timeTzOverload("minute", es, TimeTzFunctions.minuteTz,
        TimestampTzFunctions.minuteTz)),
    ("second", "second(x) - second of minute (tz-carrying types: local)",
      es => timeTzOverload("second", es, TimeTzFunctions.secondTz,
        TimestampTzFunctions.secondTz)),
    ("year", "year(x) - year (timestamp with time zone: local year)",
      es => timeTzOverload("year", es, null, TimestampTzFunctions.yearTz)),
    ("quarter", "quarter(x) - quarter (timestamp with time zone: local)",
      es => timeTzOverload("quarter", es, null, TimestampTzFunctions.quarterTz)),
    ("month", "month(x) - month (timestamp with time zone: local)",
      es => timeTzOverload("month", es, null, TimestampTzFunctions.monthTz)),
    ("day", "day(x) - day of month (timestamp with time zone: local)",
      es => timeTzOverload("day", es, null, TimestampTzFunctions.dayTz)),
    ("timezone_hour",
      "timezone_hour(t) - hour component of the zone offset (signed)",
      es =>
        if (TimeTzFunctions.isTimeTz(es.head.dataType))
          rc(TimeTzFunctions.timezoneHour(c(es.head)))
        else if (TimestampTzFunctions.isTimestampTz(es.head.dataType))
          rc(TimestampTzFunctions.timezoneHour(c(es.head)))
        else rc(sessionTzOffsetSec(c(es.head)).divide(3600d).cast("long"))),
    ("timezone_minute",
      "timezone_minute(t) - minute component of the zone offset (signed)",
      es =>
        if (TimeTzFunctions.isTimeTz(es.head.dataType))
          rc(TimeTzFunctions.timezoneMinute(c(es.head)))
        else if (TimestampTzFunctions.isTimestampTz(es.head.dataType))
          rc(TimestampTzFunctions.timezoneMinute(c(es.head)))
        else rc({
          val s = sessionTzOffsetSec(c(es.head))
          (s.divide(60d)).cast("long") - s.divide(3600d).cast("long") * 60L
        })),
    // ---- timestamp with time zone (TimestampTzFunctions; per-value
    // zones, DST-aware extraction) ---------------------------------------
    ("graft_tstz",
      "graft_tstz('yyyy-MM-dd HH:mm[:ss[.fff]] zone') - timestamp with time zone value",
      es => rc(TimestampTzFunctions.parse(c(es.head)))),
    ("graft_to_tstz",
      "graft_to_tstz(x) - CAST(x AS TIMESTAMP WITH TIME ZONE) kernel",
      es => rc(toTimestampTz(es.head))),
    ("graft_tstz_format",
      "graft_tstz_format(t) - reference rendering 'yyyy-MM-dd HH:mm:ss.SSS <zone>'",
      es => rc(TimestampTzFunctions.format(c(es.head)))),
    ("graft_tstz_to_timestamp",
      "graft_tstz_to_timestamp(t) - the instant as a session timestamp",
      es => rc(TimestampTzFunctions.toTimestamp(c(es.head)))),
    ("graft_tstz_unixtime",
      "graft_tstz_unixtime(t) - epoch seconds as double (to_unixtime for tstz)",
      es => rc(TimestampTzFunctions.toUnixtime(c(es.head)))),
    ("now_tz",
      "now_tz() - current instant with the session zone (reference now())",
      es => rc(TimestampTzFunctions.currentTimestampTz())),
    ("current_time",
      "current_time() - time of day now, with the session zone",
      es => rc(TimeTzFunctions.currentTimeTz())),
    // ---- parity batch (r9 full-name sweep vs @ScalarFunction registry) --
    ("bitwise_and", "bitwise_and(x, y) - bitwise AND in 2's complement",
      es => org.apache.spark.sql.catalyst.expressions.BitwiseAnd(
        cast(es(0), org.apache.spark.sql.types.LongType),
        cast(es(1), org.apache.spark.sql.types.LongType))),
    ("bitwise_or", "bitwise_or(x, y) - bitwise OR in 2's complement",
      es => org.apache.spark.sql.catalyst.expressions.BitwiseOr(
        cast(es(0), org.apache.spark.sql.types.LongType),
        cast(es(1), org.apache.spark.sql.types.LongType))),
    ("bitwise_xor", "bitwise_xor(x, y) - bitwise XOR in 2's complement",
      es => org.apache.spark.sql.catalyst.expressions.BitwiseXor(
        cast(es(0), org.apache.spark.sql.types.LongType),
        cast(es(1), org.apache.spark.sql.types.LongType))),
    ("bitwise_not", "bitwise_not(x) - bitwise NOT in 2's complement",
      es => org.apache.spark.sql.catalyst.expressions.BitwiseNot(
        cast(es.head, org.apache.spark.sql.types.LongType))),
    ("bitwise_shift_left",
      "bitwise_shift_left(x, shift, bits) - left shift within a bits-wide field",
      es => rc(bitwiseShift(c(es(0)), c(es(1)), c(es(2)), "left"))),
    ("bitwise_logical_shift_right",
      "bitwise_logical_shift_right(x, shift, bits) - unsigned right shift within bits",
      es => rc(bitwiseShift(c(es(0)), c(es(1)), c(es(2)), "logical"))),
    ("bitwise_arithmetic_shift_right",
      "bitwise_arithmetic_shift_right(x, shift) - sign-propagating right shift",
      es => rc(bitwiseShift(c(es(0)), c(es(1)), lit(64), "arithmetic"))),
    ("bitwise_left_shift",
      "bitwise_left_shift(x, shift) - left shift within x's type width (sign-preserving mask, 0 at shift >= 64)",
      es => rc(typedShift(es(0), es(1), "left"))),
    ("bitwise_right_shift",
      "bitwise_right_shift(x, shift) - logical right shift of x's width (0 at shift >= 64)",
      es => rc(typedShift(es(0), es(1), "logical"))),
    ("bitwise_right_shift_arithmetic",
      "bitwise_right_shift_arithmetic(x, shift) - arithmetic right shift (0 or -1 at shift >= 64)",
      es => rc(typedShift(es(0), es(1), "arithmetic"))),
    ("levenshtein_distance",
      "levenshtein_distance(a, b) - edit distance (reference StringFunctions.java)",
      es => cast(org.apache.spark.sql.catalyst.expressions.Levenshtein(
        es(0), es(1)), org.apache.spark.sql.types.LongType)),
    ("sha256", "sha256(varbinary) - SHA-256 digest as varbinary",
      es => rc(unhex(sha2(c(es.head), 256)))),
    ("sha512", "sha512(varbinary) - SHA-512 digest as varbinary",
      es => rc(unhex(sha2(c(es.head), 512)))),
    ("spooky_hash_v2_32", "spooky_hash_v2_32(varbinary) - SpookyHash V2 32-bit",
      es => SpookyHash(es.head, wide = false)),
    ("spooky_hash_v2_64", "spooky_hash_v2_64(varbinary) - SpookyHash V2 64-bit",
      es => SpookyHash(es.head, wide = true)),
    ("array_cum_sum", "array_cum_sum(a) - prefix sums; nulls poison the tail",
      es => ArrayCumSum(es.head)),
    ("array_normalize",
      "array_normalize(a, p) - divide by the p-norm (p=0 returns a unchanged)",
      es => rc(arrayNormalize(es(0), c(es(1))))),
    ("normalize", "normalize(s[, form]) - Unicode normalization, default NFC",
      es => UnicodeNormalize(es(0),
        if (es.length > 1) es(1)
        else org.apache.spark.sql.catalyst.expressions.Literal("NFC"))),
    ("wilson_interval_lower",
      "wilson_interval_lower(successes, trials, z) - Wilson score lower bound",
      es => rc(wilsonBound(c(es(0)), c(es(1)), c(es(2)), upper = false))),
    ("wilson_interval_upper",
      "wilson_interval_upper(successes, trials, z) - Wilson score upper bound",
      es => rc(wilsonBound(c(es(0)), c(es(1)), c(es(2)), upper = true))),
    ("split_to_multimap",
      "split_to_multimap(s, entryDelim, kvDelim) - duplicate keys collect values",
      es => rc(graft.ops.Scalars.splitToMultimap(c(es(0)),
        strArg(es(1), "split_to_multimap"), strArg(es(2), "split_to_multimap")))),
    ("url_extract_protocol", "url_extract_protocol(url)",
      es => rc(parse_url(c(es.head), lit("PROTOCOL")))),
    ("url_extract_host", "url_extract_host(url)",
      es => rc(parse_url(c(es.head), lit("HOST")))),
    ("url_extract_path", "url_extract_path(url)",
      es => rc(parse_url(c(es.head), lit("PATH")))),
    ("url_extract_query", "url_extract_query(url)",
      es => rc(parse_url(c(es.head), lit("QUERY")))),
    ("url_extract_fragment", "url_extract_fragment(url)",
      es => rc(parse_url(c(es.head), lit("REF")))),
    ("url_extract_parameter", "url_extract_parameter(url, name)",
      es => rc(parse_url(c(es(0)), lit("QUERY"), c(es(1))))),
    ("url_extract_port",
      "url_extract_port(url) - bigint port, NULL when absent",
      es => rc {
        val p = regexp_extract(
          parse_url(c(es.head), lit("AUTHORITY")), ":(\\d+)$", 1)
        when(p === "", lit(null)).otherwise(p).cast("long")
      }),
    ("date_parse",
      "date_parse(s, fmt) - timestamp from a MySQL-pattern format",
      es => org.apache.spark.sql.catalyst.expressions.ParseToTimestamp(
        es(0), Some(org.apache.spark.sql.catalyst.expressions.Literal(
          MySqlFormat.toJava(strArg(es(1), "date_parse")))),
        org.apache.spark.sql.types.TimestampType)),
    ("empty_approx_set",
      "empty_approx_set() - empty HyperLogLog sketch",
      es => org.apache.spark.sql.catalyst.expressions.Literal(
        SketchTag.wrap(SketchTag.Hll, Hll.emptyBuffer(Hll.DefaultP)),
        org.apache.spark.sql.types.BinaryType)),
    ("infinity", "infinity() - positive IEEE-754 infinity",
      es => org.apache.spark.sql.catalyst.expressions.Literal(
        Double.PositiveInfinity)),
    ("is_finite", "is_finite(x) - neither infinite nor NaN",
      es => rc {
        val v = c(es.head).cast("double")
        !isnan(v) && v =!= Double.PositiveInfinity &&
          v =!= Double.NegativeInfinity
      }),
    ("is_infinite", "is_infinite(x) - positive or negative infinity",
      es => rc {
        val v = c(es.head).cast("double")
        v === Double.PositiveInfinity || v === Double.NegativeInfinity
      }),
    ("json_presto_query_plan_ids",
      "json_presto_query_plan_ids(planJson) - every plan node id",
      es => PlanJsonCall("ids", es)),
    ("json_presto_query_plan_node_children",
      "json_presto_query_plan_node_children(planJson, id) - children ids",
      es => PlanJsonCall("children", es)),
    ("json_presto_query_plan_scrub",
      "json_presto_query_plan_scrub(planJson) - structure kept, runtime info scrubbed",
      es => PlanJsonCall("scrub", es)),
    ("entropy",
      "entropy(c) - Shannon entropy (log2) of the count distribution",
      es => rc {
        val cc = c(es.head).cast("double")
        val contrib = when(cc > 0, cc * log2(cc)).otherwise(lit(0.0))
        log2(sum(cc)) - sum(contrib) / sum(cc)
      }),
    ("inverse_binomial_cdf",
      "inverse_binomial_cdf(n, successProb, p) - smallest k with CDF(k) >= p",
      es => cast(rc(Distributions.inverseBinomialCdfCol(
        c(es(0)), c(es(1)), c(es(2)))),
        org.apache.spark.sql.types.LongType)),
    ("parse_duration", "parse_duration('<n> <unit>') - duration as milliseconds",
      es => rc(graft.ops.Scalars.parseDurationMs(c(es.head)))),
    ("truncate", "truncate(x[, n]) - round toward zero [to n decimals]",
      es => rc {
        val v = c(es.head)
        if (es.length == 1) signum(v) * floor(abs(v))
        else {
          val p = pow(lit(10.0), c(dbl(es(1))))
          signum(v) * floor(abs(v) * p) / p
        }
      }),
    ("nan", "nan() - the double NaN value",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(Double.NaN)),
    ("localtime",
      "localtime() - current time of day (session zone) as TIME; the bare " +
        "reference spelling is rewritten to this by the dialect",
      _ => {
        def fn(name: String, args: Expression*) =
          org.apache.spark.sql.catalyst.analysis.UnresolvedFunction(
            Seq(name), args, isDistinct = false)
        val lts = fn("localtimestamp")
        fn("make_time", fn("hour", lts), fn("minute", lts),
          org.apache.spark.sql.catalyst.expressions.Cast(fn("second", lts),
            org.apache.spark.sql.types.DoubleType))
      }),
    ("to_utf8", "to_utf8(s) - string as UTF-8 varbinary",
      es => org.apache.spark.sql.catalyst.expressions.Encode(es.head,
        org.apache.spark.sql.catalyst.expressions.Literal("UTF-8"))),
    ("from_utf8", "from_utf8(b) - UTF-8 varbinary as string",
      es => org.apache.spark.sql.catalyst.expressions.StringDecode(es.head,
        org.apache.spark.sql.catalyst.expressions.Literal("UTF-8"))),
    ("to_iso8601", "to_iso8601(d) - ISO-8601 text for a date or timestamp",
      es => {
        import org.apache.spark.sql.catalyst.expressions.{DateFormatClass, Literal}
        if (es.head.dataType == org.apache.spark.sql.types.DateType)
          DateFormatClass(cast(es.head,
            org.apache.spark.sql.types.TimestampType), Literal("yyyy-MM-dd"))
        else DateFormatClass(es.head, Literal("yyyy-MM-dd'T'HH:mm:ss.SSS"))
      }),
    ("from_unixtime",
      "from_unixtime(epoch[, fmt]) - timestamp from epoch seconds (reference type); 2-arg is Spark's string form",
      es =>
        if (es.length == 1)
          org.apache.spark.sql.catalyst.expressions.SecondsToTimestamp(es.head)
        else org.apache.spark.sql.catalyst.expressions.FromUnixTime(
          asLong(es(0)), es(1))),
    ("values_at_quantiles",
      "values_at_quantiles(qdigest, qs) - value_at_quantile for each q",
      es => {
        val v = NamedLambdaVariable("q",
          org.apache.spark.sql.types.DoubleType, nullable = true)
        org.apache.spark.sql.catalyst.expressions.ArrayTransform(
          cast(es(1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)),
          LambdaFunction(ValueAtQuantile(es(0), v), Seq(v)))
      }),
    ("quantiles_at_values",
      "quantiles_at_values(tdigest, values) - rank of each value in [0,1]",
      es => {
        val v = NamedLambdaVariable("v",
          org.apache.spark.sql.types.DoubleType, nullable = true)
        org.apache.spark.sql.catalyst.expressions.ArrayTransform(
          cast(es(1), org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.DoubleType, containsNull = true)),
          LambdaFunction(QuantileAtValue(es(0), v), Seq(v)))
      }),
    ("scale_qdigest", "scale_qdigest(sketch, factor) - scale digest weights",
      es => ScaleQDigest(es(0), dbl(es(1)))),
    ("scale_tdigest", "scale_tdigest(sketch, factor) - scale t-digest weights",
      es => ScaleTDigest(es(0), dbl(es(1)))),
    ("spatial_partitioning",
      "spatial_partitioning(xmin, ymin, xmax, ymax, partitionCount) - KDB-tree JSON from an envelope sample",
      es => {
        val pc = if (es(4).foldable) es(4).eval(null) else null
        pc match {
          case n: Number => SpatialPartitioningAgg(es(0), es(1), es(2), es(3),
            n.intValue()).toAggregateExpression()
          case _ => throw new IllegalArgumentException(
            "spatial_partitioning: partitionCount must be a foldable integer literal")
        }
      }),
    ("spatial_partitions",
      "spatial_partitions(kdbTree, xmin, ymin, xmax, ymax) - leaf ids the envelope intersects",
      es => KdbPartitions(es(0), es(1), es(2), es(3), es(4))),
    ("regexp_replace",
      "regexp_replace(s, pattern[, replacement | x -> expr]) - replace matches; lambda receives capture groups",
      es => es match {
        case Seq(s, p) =>
          org.apache.spark.sql.catalyst.expressions.RegExpReplace(s, p,
            org.apache.spark.sql.catalyst.expressions.Literal(""))
        case Seq(s, p, l: LambdaFunction) => RegexpReplaceLambda(s, p, l)
        case Seq(s, p, r) =>
          org.apache.spark.sql.catalyst.expressions.RegExpReplace(s, p, r)
        case _ => throw new IllegalArgumentException(
          s"regexp_replace requires 2 or 3 arguments, got ${es.length}")
      }),
    ("khyperloglog_agg",
      "khyperloglog_agg(value, uii) - KHyperLogLog joinability/uniqueness sketch",
      es => KhllAgg(es(0), es(1)).toAggregateExpression()),
    ("merge_khll", "merge_khll(sketch) - merge KHyperLogLog sketches",
      es => KhllMergeAgg(es.head).toAggregateExpression()),
    ("khll_cardinality", "khll_cardinality(sketch) - estimated distinct values",
      es => KhllCardinality(es.head)),
    ("khll_jaccard_index", "khll_jaccard_index(a, b) - MinHash joinability estimate",
      es => KhllJaccard(es(0), es(1))),
    ("khll_intersection_cardinality",
      "khll_intersection_cardinality(a, b) - estimated |A∩B| of value sets",
      es => KhllIntersection(es(0), es(1))),
    ("reidentification_potential",
      "reidentification_potential(sketch, threshold) - fraction of values with <= threshold users",
      es => KhllReidentification(es(0), es(1))),
    ("uniqueness_distribution",
      "uniqueness_distribution(sketch[, histogramSize]) - histogram of per-value user cardinality",
      es => KhllUniqueness(es(0),
        if (es.length > 1) es(1)
        else org.apache.spark.sql.catalyst.expressions.Literal(Khll.DefaultHistogramSize))),
    ("approx_most_frequent",
      "approx_most_frequent(k, value, capacity) - space-saving top-k heavy hitters",
      es => {
        if (es.length != 3) throw new IllegalArgumentException(
          s"approx_most_frequent(k, value, capacity) requires exactly 3 arguments, got ${es.length}")
        def intLit(e: Expression, what: String): Int = {
          val v = if (e.foldable) e.eval(null) else null
          v match {
            case n: Number => n.intValue()
            case _ => throw new IllegalArgumentException(
              s"approx_most_frequent: $what must be a foldable integer literal, got ${e.sql}")
          }
        }
        MostFrequentAgg(es(1), intLit(es(0), "k"), intLit(es(2), "capacity"))
          .toAggregateExpression()
      }),
    ("numeric_histogram",
      "numeric_histogram(buckets, value[, weight]) - streaming numeric histogram as map<double,double>",
      es => {
        if (es.length < 2 || es.length > 3) throw new IllegalArgumentException(
          s"numeric_histogram(buckets, value[, weight]) takes 2 or 3 arguments, got ${es.length}")
        val buckets = es.head match {
          case e if e.foldable => e.eval(null) match {
            case n: Number => n.intValue()
            case other => throw new IllegalArgumentException(
              s"numeric_histogram: buckets must be an integer literal, got $other")
          }
          case e => throw new IllegalArgumentException(
            s"numeric_histogram: buckets must be foldable, got ${e.sql}")
        }
        NumericHistogramAgg(es(1), es.drop(2).headOption, buckets)
          .toAggregateExpression()
      }),
    ("noisy_approx_set_sfm",
      "noisy_approx_set_sfm(x, epsilon[, buckets[, precision]]) - DP SFM distinct sketch",
      SfmBuilders.agg(distinct = false)),
    ("noisy_approx_distinct_sfm",
      "noisy_approx_distinct_sfm(x, epsilon[, buckets[, precision]]) - DP distinct count",
      SfmBuilders.agg(distinct = true)),
    ("merge_sfm", "merge_sfm(sketch | array<sketch>) - union of SFM sketches",
      es => es.head.dataType match {
        case org.apache.spark.sql.types.ArrayType(_, _) => SfmScalarMerge(es.head)
        case _ => SfmMergeAgg(es.head).toAggregateExpression()
      }),
    ("noisy_approx_set_sfm_from_index_and_zeros",
      "noisy_approx_set_sfm_from_index_and_zeros(index, zeros, epsilon, buckets[, precision]) - sketch from pre-hashed pairs",
      es => {
        if (es.length < 4 || es.length > 5) throw new IllegalArgumentException(
          s"noisy_approx_set_sfm_from_index_and_zeros takes 4 or 5 arguments, got ${es.length}")
        SfmFromIndexZerosAgg(es(0), es(1),
          SfmBuilders.foldNumPub(es(2), "epsilon"),
          SfmBuilders.foldNumPub(es(3), "buckets").toInt,
          if (es.length == 5) SfmBuilders.foldNumPub(es(4), "precision").toInt
          else Sfm.DefaultPrecision).toAggregateExpression()
      }),
    ("noisy_empty_approx_set_sfm",
      "noisy_empty_approx_set_sfm(epsilon[, buckets[, precision]]) - empty DP sketch",
      es => {
        if (es.isEmpty || es.length > 3) throw new IllegalArgumentException(
          s"noisy_empty_approx_set_sfm takes 1-3 arguments, got ${es.length}")
        SfmEmptySketch(
          SfmBuilders.foldNumPub(es(0), "epsilon"),
          if (es.length >= 2) SfmBuilders.foldNumPub(es(1), "buckets").toInt
          else Sfm.DefaultBuckets,
          if (es.length == 3) SfmBuilders.foldNumPub(es(2), "precision").toInt
          else Sfm.DefaultPrecision)
      }),
    ("sfm_cardinality", "sfm_cardinality(sketch) - distinct estimate of an SFM sketch",
      es => SfmCardinality(es.head)),
    ("multimap_from_entries",
      "multimap_from_entries(array<row(k,v)>) - map<k, array<v>>, duplicate keys collected in order",
      es => MultimapFromEntries(es.head)),
    ("to_base", "to_base(x, radix) - signed radix-2..36 string of a bigint",
      es => ToBase(asLong(es(0)), asLong(es(1)))),
    ("from_base", "from_base(s, radix) - parse a signed radix-2..36 string to bigint",
      es => FromBase(es(0), asLong(es(1)))),
    ("cosine_distance", "cosine_distance(v1, v2) - 1 minus cosine similarity",
      es => org.apache.spark.sql.catalyst.expressions.Subtract(
        org.apache.spark.sql.catalyst.expressions.Literal(1.0),
        CosineSimilarity(es(0), es(1)))),
    ("great_circle_distance",
      "great_circle_distance(lat1, lon1, lat2, lon2) - haversine km (R=6371)",
      es => Bridge.resolvedExpression(GeoFunctions.greatCircleKm(
        Bridge.column(es(0)), Bridge.column(es(1)),
        Bridge.column(es(2)), Bridge.column(es(3))))),
    ("bing_tiles_around",
      "bing_tiles_around(lat, lon, zoom) - the tile and its neighbors, edge-clamped",
      es => Bridge.resolvedExpression(GeoFunctions.bingTilesAround(
        Bridge.column(es(0)), Bridge.column(es(1)), Bridge.column(es(2))))),
    ("current_timezone", "current_timezone() - session time zone id",
      _ => org.apache.spark.sql.catalyst.expressions.CurrentTimeZone()),
    ("version", "version() - engine version string",
      _ => org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          s"graft-spark:${org.apache.spark.SPARK_VERSION}"),
        org.apache.spark.sql.types.StringType)),
    ("url_encode", "url_encode(value) - escape for URL query parameter names/values",
      es => UrlEncode(es.head)),
    ("url_decode", "url_decode(value) - unescape a URL-encoded string",
      es => UrlDecode(es.head)),
    ("differential_entropy",
      "differential_entropy(size, x[, weight[, method, min, max]]) - continuous entropy estimate in bits",
      es => {
        def foldOf(e: Expression, what: String): Any = {
          if (!e.foldable) throw new IllegalArgumentException(
            s"differential_entropy: $what must be a literal, got ${e.sql}")
          e.eval(null)
        }
        def i(e: Expression, what: String): Int = foldOf(e, what) match {
          case n: Number => n.intValue()
          case other => throw new IllegalArgumentException(
            s"differential_entropy: $what must be an integer literal, got $other")
        }
        def dd(e: Expression, what: String): Double = foldOf(e, what) match {
          case n: Number => n.doubleValue()
          case d: org.apache.spark.sql.types.Decimal => d.toDouble
          case other => throw new IllegalArgumentException(
            s"differential_entropy: $what must be a numeric literal, got $other")
        }
        es.length match {
          case 2 => DifferentialEntropyAgg(es(1), None, i(es.head, "size"),
            DiffEntropy.Vasicek).toAggregateExpression()
          case 3 => DifferentialEntropyAgg(es(1), Some(es(2)), i(es.head, "size"),
            DiffEntropy.VasicekWeighted).toAggregateExpression()
          case 6 =>
            val method = foldOf(es(3), "method") match {
              case s: org.apache.spark.unsafe.types.UTF8String =>
                DiffEntropy.methodOf(s.toString)
              case other => throw new IllegalArgumentException(
                s"differential_entropy: method must be a string literal, got $other")
            }
            DifferentialEntropyAgg(es(1), Some(es(2)), i(es.head, "bucketCount"),
              method, dd(es(4), "min"), dd(es(5), "max")).toAggregateExpression()
          case n => throw new IllegalArgumentException(
            s"differential_entropy takes 2, 3 or 6 arguments, got $n")
        }
      }),
    ("noisy_count_gaussian",
      "noisy_count_gaussian(value, noiseScale[, randomSeed]) - DP count with Gaussian noise",
      NoisyBuilders.count("noisy_count_gaussian", NoisyGaussian.ModeCount)),
    ("noisy_count_if_gaussian",
      "noisy_count_if_gaussian(cond, noiseScale[, randomSeed]) - DP count of TRUE rows",
      NoisyBuilders.count("noisy_count_if_gaussian", NoisyGaussian.ModeCountIf)),
    ("noisy_sum_gaussian",
      "noisy_sum_gaussian(x, noiseScale[, lower, upper][, randomSeed]) - DP sum, optional clipping",
      NoisyBuilders.sumAvg("noisy_sum_gaussian", NoisyGaussian.ModeSum)),
    ("noisy_avg_gaussian",
      "noisy_avg_gaussian(x, noiseScale[, lower, upper][, randomSeed]) - DP average, optional clipping",
      NoisyBuilders.sumAvg("noisy_avg_gaussian", NoisyGaussian.ModeAvg)),
    ("vector_sum",
      "vector_sum(v[, scale]) - elementwise sum of float/double vectors; with scale, decimal-exact per element",
      es => es.length match {
        case 1 => VectorSumAgg(es.head).toAggregateExpression()
        case 2 =>
          val scale = es(1) match {
            case e if e.foldable => e.eval(null) match {
              case n: Number => n.intValue()
              case other => throw new IllegalArgumentException(
                s"vector_sum: scale must be an integer literal, got $other")
            }
            case e => throw new IllegalArgumentException(
              s"vector_sum: scale must be foldable, got ${e.sql}")
          }
          VectorSumExactAgg(es.head, scale).toAggregateExpression()
        case n => throw new IllegalArgumentException(
          s"vector_sum(v[, scale]) takes 1 or 2 arguments, got $n")
      }),
    ("color", "color(name | fraction, low, high | v, lo, hi, lowColor, highColor) - reference ColorFunctions.java",
      es => es.length match {
        case 1 => ColorCall("color", es)
        case 3 => ColorCall("color_interp", Seq(dbl(es(0)), es(1), es(2)))
        case 5 => ColorCall("color_scaled",
          Seq(dbl(es(0)), dbl(es(1)), dbl(es(2)), es(3), es(4)))
        case n => throw new IllegalArgumentException(s"color: bad arity $n")
      }),
    ("rgb", "rgb(r, g, b) - packed rgb color value",
      es => ColorCall("rgb", es)),
    ("render", "render(value[, color]) - ANSI-colored rendering",
      es =>
        if (es.length == 1) ColorCall("render_bool", es)
        else ColorCall("render", Seq(
          org.apache.spark.sql.catalyst.expressions.Cast(
            es(0), org.apache.spark.sql.types.StringType), es(1)))),
    ("bar", "bar(fraction, width[, lowColor, highColor]) - ANSI bar chart cell",
      es => ColorCall("bar", dbl(es(0)) +: es.drop(1))),
    // ---- ML surface (presto-ml; MlModel.scala re-designs training as
    // mergeable sufficient statistics — the reference's combine throws) ----
    ("features",
      "features(d1[, d2, ...]) - map(bigint,double) feature vector with 0-based keys (MLFeaturesFunctions.java)",
      es => {
        if (es.isEmpty || es.length > 10) throw new IllegalArgumentException(
          s"features takes 1-10 arguments, got ${es.length}")
        org.apache.spark.sql.catalyst.expressions.CreateMap(
          es.zipWithIndex.flatMap { case (e, i) => Seq(
            org.apache.spark.sql.catalyst.expressions.Literal(i.toLong), dbl(e))
          })
      }),
    ("learn_classifier",
      "learn_classifier(label, features) - train a bigint-label classifier; returns a model varbinary",
      es => LearnClassifierAgg(es(0), es(1), varcharLabels = false).toAggregateExpression()),
    ("learn_varchar_classifier",
      "learn_varchar_classifier(label, features) - train a varchar-label classifier",
      es => LearnClassifierAgg(es(0), es(1), varcharLabels = true).toAggregateExpression()),
    ("learn_regressor",
      "learn_regressor(label, features) - train a linear regressor; returns a model varbinary",
      es => LearnRegressorAgg(es(0), es(1)).toAggregateExpression()),
    // The libsvm-named reference variants take a hyperparameter string
    // (LearnLibSvmClassifierAggregation.java); the closed-form trainers
    // here have no libsvm knobs, so the params argument is accepted and
    // ignored — documented deviation.
    ("learn_libsvm_classifier",
      "learn_libsvm_classifier(label, features, params) - as learn_classifier; params ignored (closed-form trainer)",
      es => LearnClassifierAgg(es(0), es(1), varcharLabels = false).toAggregateExpression()),
    ("learn_libsvm_varchar_classifier",
      "learn_libsvm_varchar_classifier(label, features, params) - as learn_varchar_classifier; params ignored",
      es => LearnClassifierAgg(es(0), es(1), varcharLabels = true).toAggregateExpression()),
    ("learn_libsvm_regressor",
      "learn_libsvm_regressor(label, features, params) - as learn_regressor; params ignored",
      es => LearnRegressorAgg(es(0), es(1)).toAggregateExpression()),
    ("classify",
      "classify(features, model) - apply a bigint-label classifier model (MLFunctions.java:54)",
      es => MlClassify(es(0), es(1))),
    ("classify_varchar",
      "classify_varchar(features, model) - apply a varchar-label classifier (reference overloads classify on Classifier<varchar>)",
      es => MlClassifyVarchar(es(0), es(1))),
    ("regress",
      "regress(features, model) - apply a regressor model (MLFunctions.java:65)",
      es => MlRegress(es(0), es(1))),
    ("evaluate_classifier_predictions",
      "evaluate_classifier_predictions(prediction, truth) - accuracy/precision/recall summary string (EvaluateClassifierPredictionsAggregation.java:97)",
      es => EvaluatePredictionsAgg(es(0), es(1)).toAggregateExpression())) ++
    GeoSqlNames.entries // the ST_* geometry surface (GeoFunctions.java:144)

  private def cast(e: Expression, dt: org.apache.spark.sql.types.DataType): Expression =
    if (e.dataType == dt) e
    else org.apache.spark.sql.catalyst.expressions.Cast(e, dt)

  private def classificationAgg(es: Seq[Expression], metric: String): Expression =
    ClassificationMetricAgg(es(0),
      cast(es(1), org.apache.spark.sql.types.BooleanType), dbl(es(2)),
      if (es.length > 3) Some(dbl(es(3))) else None, metric)
      .toAggregateExpression()

  /** Teradata/java format literal, translated when it uses the Teradata
    * element vocabulary. Children may be unresolved in registry builders,
    * so only plain literals are inspected. */
  private def teradataFmt(e: Expression): Expression = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v, _) if v != null =>
      val raw = String.valueOf(v)
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          if (TeradataFormat.looksTeradata(raw)) TeradataFormat.toJava(raw)
          else raw),
        org.apache.spark.sql.types.StringType)
    case other => other // non-literal format: builtin semantics untouched
  }

  /** Dispatch on the FORMAT (children may still be unresolved here): a
    * Teradata datetime vocabulary → date_format; anything else falls
    * through to Spark's numeric to_char. */
  private def teradataToChar(es: Seq[Expression]): Expression = {
    val tdFmt = es(1) match {
      case org.apache.spark.sql.catalyst.expressions.Literal(v, _)
          if v != null && TeradataFormat.looksTeradata(String.valueOf(v)) =>
        Some(TeradataFormat.toJava(String.valueOf(v)))
      case _ => None
    }
    tdFmt match {
      case Some(fmt) =>
        rc(org.apache.spark.sql.functions.date_format(c(es(0)), fmt))
      case None => // numeric/native path — direct expression, NOT
        // functions.to_char (which would re-resolve into this builder)
        org.apache.spark.sql.catalyst.expressions.ToCharacterBuilder
          .build("to_char", es)
    }
  }

  /** Eager Column→Expression conversion for builders composed with
    * `functions._` (a lazy ColumnNode from the plain bridge would reach
    * execution unconverted when returned from a FunctionRegistry builder). */
  private def rc(col: Column): Expression = Bridge.resolvedExpression(col)

  /** Literal string argument (function-registration contract, like the
    * reference's parse-time-constant format arguments). */
  private def strArg(e: Expression, what: String): String = {
    val v = if (e.foldable) e.eval(null) else null
    if (v == null) throw new IllegalArgumentException(
      s"$what: argument must be a string literal")
    v.toString
  }

  /** Reference BitwiseFunctions.java 3-arg shift family: the value lives
    * in a bits-wide field (2..64; 64 = plain java shift semantics, shifts
    * >= 64 wrap mod 64 exactly like the reference's long shifts);
    * negative shift and out-of-range bits raise. */
  private def bitwiseShift(num: Column, shift: Column, bits: Column,
      mode: String): Column = {
    val n = num.cast("long"); val s = shift.cast("int"); val b = bits.cast("long")
    val mask = call_function("shiftleft", lit(1L), b.cast("int")) - 1L
    val shifted = mode match {
      case "left" =>
        when(b === 64, call_function("shiftleft", n, s))
          .otherwise(call_function("shiftleft", n, s).bitwiseAND(mask))
      case "logical" =>
        when(b === 64, call_function("shiftrightunsigned", n, s))
          .otherwise(call_function("shiftrightunsigned", n.bitwiseAND(mask), s))
      case _ => call_function("shiftright", n, s)
    }
    val bitsOk = if (mode == "arithmetic") lit(true)
      else b === 64 || (b > 1 && b <= 64)
    val shiftOk = s >= 0
    when(assert_true(bitsOk && shiftOk,
      when(!bitsOk, concat(lit("Bits specified must be between 2 and 64, " +
        "got "), b.cast("string")))
        .otherwise(lit("Specified shift must be positive"))).isNull, shifted)
  }

  /** Reference typed shift family (BitwiseFunctions.java
    * bitwiseLeftShift / bitwiseRightShift / bitwiseRightShiftArithmetic
    * per-type overloads):
    * the value's TYPE picks the bit width; left shifts mask to that width
    * with 2's-complement sign preservation (preserveSign), logical right
    * shifts mask the value first, arithmetic right shifts sign-propagate;
    * shift >= 64 returns 0 (arithmetic: 0 or -1 by sign). Result keeps
    * the input's type. */
  private def typedShift(value: Expression, shiftE: Expression,
      mode: String): Column = {
    import org.apache.spark.sql.types._
    val (bits, mask, signBit) = value.dataType match {
      case ByteType => (8, 0xffL, 0x80L)
      case ShortType => (16, 0xffffL, 0x8000L)
      case IntegerType => (32, 0xffffffffL, 0x80000000L)
      case _ => (64, -1L, Long.MinValue)
    }
    val v = c(value).cast("long")
    val s = c(shiftE).cast("long")
    val si = s.cast("int")
    val out = mode match {
      case "left" =>
        val sh = call_function("shiftleft", v, si)
        val kept = if (bits == 64) sh
          else when(sh.bitwiseAND(lit(signBit)) =!= 0L,
            sh.bitwiseOR(lit(~mask))).otherwise(sh.bitwiseAND(lit(mask)))
        when(s >= 64, lit(0L)).otherwise(kept)
      case "logical" =>
        val masked = if (bits == 64) v else v.bitwiseAND(lit(mask))
        when(s >= 64, lit(0L)).when(s === 0, v)
          .otherwise(call_function("shiftrightunsigned", masked, si))
      case _ =>
        when(s >= 64, when(v >= 0, lit(0L)).otherwise(lit(-1L)))
          .otherwise(call_function("shiftright", v, si))
    }
    out.cast(value.dataType)
  }

  /** Wilson score interval bound (reference WilsonInterval.java) — the
    * closed form the fn_wilson gate pins. */
  private def wilsonBound(successes: Column, trials: Column, z: Column,
      upper: Boolean): Column = {
    val n = trials.cast("double"); val x = successes.cast("double")
    val zd = z.cast("double")
    val zz = zd * zd
    val p = x / n
    val center = (p + zz / (lit(2) * n)) / (lit(1) + zz / n)
    val margin = zd * sqrt(p * (lit(1) - p) / n + zz / (lit(4) * n * n)) /
      (lit(1) + zz / n)
    if (upper) center + margin else center - margin
  }

  /** array_normalize (reference ArrayNormalizeFunction.java): p=0 returns
    * the array unchanged, any NULL element nulls the result, double/real
    * elements only (FUNCTION_IMPLEMENTATION_MISSING otherwise). */
  private def arrayNormalize(a: Expression, p: Column): Column = {
    import org.apache.spark.sql.types._
    val et = a.dataType match {
      case ArrayType(t, _) if t == DoubleType || t == FloatType => t
      case other => throw new UnsupportedOperationException(
        "Unsupported array element type for array_normalize function: " +
          other.simpleString)
    }
    val ac = c(a)
    val pd = p.cast("double")
    val norm = pow(aggregate(ac, lit(0.0),
      (s, x) => s + pow(abs(x.cast("double")), pd)), lit(1.0) / pd)
    val res = transform(ac, x => (x.cast("double") / norm).cast(et))
    when(assert_true(pd >= 0,
      lit("array_normalize only supports non-negative p")).isNull,
      when(pd === 0, ac)
        .when(exists(ac, _.isNull),
          lit(null).cast(ArrayType(et)))
        .otherwise(res))
  }

  /** tz-carrying-type overload: struct-tagged TIME WITH TIME ZONE /
    * TIMESTAMP WITH TIME ZONE values route to their kernels; everything
    * else falls back to the BUILTIN of the same name (registry lookup,
    * not a hand-picked expression), so the session override never
    * changes date/time/timestamp semantics. */
  private def timeTzOverload(name: String, es: Seq[Expression],
      kernel: Column => Column,
      tsKernel: Column => Column = null): Expression =
    if (es.length == 1 && kernel != null &&
        TimeTzFunctions.isTimeTz(es.head.dataType))
      rc(kernel(c(es.head)))
    else if (es.length == 1 && tsKernel != null &&
        TimestampTzFunctions.isTimestampTz(es.head.dataType))
      rc(tsKernel(c(es.head)))
    else builtin(name, es)

  /** Session-zone offset seconds at a timestamp instant (reference
    * timezone_hour/minute on zoneless timestamps use the session zone). */
  private def sessionTzOffsetSec(ts: Column): Column = {
    val t = ts.cast("timestamp")
    from_utc_timestamp(t, current_timezone()).cast("long") - t.cast("long")
  }

  /** CAST(x AS TIME WITH TIME ZONE) dispatch: varchar parses (session
    * zone when none in the text), timestamps keep their session-rendered
    * time-of-day, TIME attaches the session zone (via its string form —
    * exact, TIME casts render 'HH:mm:ss[.ffffff]'). */
  private def toTimeTz(e: Expression): Column = {
    import org.apache.spark.sql.types._
    val col = c(e)
    e.dataType match {
      case dt if TimeTzFunctions.isTimeTz(dt) => col
      case _: StringType => TimeTzFunctions.parse(col)
      case TimestampType | TimestampNTZType =>
        TimeTzFunctions.parse(date_format(col, "HH:mm:ss.SSS"))
      case _ => TimeTzFunctions.parse(col.cast("string"))
    }
  }

  /** CAST(x AS TIMESTAMP WITH TIME ZONE) dispatch: varchar parses
    * (session zone when none in the text), timestamp/date instants
    * attach the session zone (the reference's cast semantics). */
  private def toTimestampTz(e: Expression): Column = {
    import org.apache.spark.sql.types._
    val col = c(e)
    e.dataType match {
      case dt if TimestampTzFunctions.isTimestampTz(dt) => col
      case _: StringType => TimestampTzFunctions.parse(col)
      case TimestampType | TimestampNTZType | DateType =>
        TimestampTzFunctions.make(
          unix_millis(col.cast("timestamp")), current_timezone())
      case _ => TimestampTzFunctions.parse(col.cast("string"))
    }
  }

  private def intArg(e: Expression, what: String): Int = {
    val v = if (e.foldable) e.eval(null) else null
    v match {
      case n: Number => n.intValue()
      case _ => throw new IllegalArgumentException(
        s"$what: count must be a foldable integer literal, got ${e.sql}")
    }
  }

  /** ISO day-of-week (Monday = 1) from Spark's Sunday-=-1 dayofweek. */
  private def isoDayOfWeek(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{Add, Cast, DayOfWeek, Literal, Remainder}
    Cast(Add(Remainder(Add(DayOfWeek(
      cast(e, org.apache.spark.sql.types.DateType)), Literal(5)), Literal(7)),
      Literal(1)), org.apache.spark.sql.types.LongType)
  }

  private def dbl(e: Expression): Expression =
    if (e.dataType == org.apache.spark.sql.types.DoubleType) e
    else org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.DoubleType)

  private def asLong(e: Expression): Expression =
    if (e.dataType == org.apache.spark.sql.types.LongType) e
    else org.apache.spark.sql.catalyst.expressions.Cast(
      e, org.apache.spark.sql.types.LongType)

  /** Polymorphic table-function registry — the role of the reference's
    * TableFunctionOperator registration surface
    * (MAIN/operator/TableFunctionOperator.java:44 + operator/table classes).
    * One entry = one TVF: the builder lands in the FROM-position
    * table-function registry and, when `exprPos`, also in the expression
    * registry (LATERAL VIEW / SELECT position). Adding the next TVF costs
    * one Generator class plus one line here. */
  val tableFunctions: Seq[(String, Seq[Expression] => org.apache.spark.sql.catalyst.expressions.Generator, Boolean)] = Seq(
    ("split_to_table",
      es => SplitToTable(es(0), es(1)), true),
    // reference operator/table/Sequence.java:73 — sequence(stop) /
    // (start, stop) / (start, stop, step), inclusive, direction-checked.
    // Expression position stays with Spark's scalar sequence() (arrays).
    ("sequence", es => es.map(asLong) match {
      case Seq(stop1) => SequenceTable(
        org.apache.spark.sql.catalyst.expressions.Literal(0L), stop1,
        org.apache.spark.sql.catalyst.expressions.Literal(1L))
      case Seq(a, b) => SequenceTable(a, b,
        org.apache.spark.sql.catalyst.expressions.Literal(1L))
      case Seq(a, b, st) => SequenceTable(a, b, st)
      case other => throw new IllegalArgumentException(
        s"sequence table function takes 1-3 arguments, got ${other.length}")
    }, false))

  /** Idempotent per-session registration. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, usage, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "scala_udf")
    }
    tableFunctions.foreach { case (name, builder, exprPos) =>
      if (exprPos) reg.createOrReplaceTempFunction(name, builder, "scala_udf")
      spark.sessionState.tableFunctionRegistry.createOrReplaceTempFunction(
        name,
        (es: Seq[Expression]) => org.apache.spark.sql.catalyst.plans.logical.Generate(
          builder(es), unrequiredChildIndex = Nil, outer = false,
          qualifier = None, generatorOutput = Nil,
          child = org.apache.spark.sql.catalyst.plans.logical.OneRowRelation()),
        "scala_udf")
    }
  }

  // ---- DataFrame/Column API ----
  private def c(e: Expression): Column = Bridge.column(e)
  private def x(col: Column): Expression = Bridge.expression(col)

  def jaroWinkler(a: Column, b: Column): Column = c(JaroWinklerSimilarity(x(a), x(b)))
  /** Reinterpret a BIGINT's bits as an IEEE double (long → bytes → double,
    * both legs codegen'd BinConvExpr ops). */
  def fromIeee754Bits(a: Column): Column =
    c(BinConvExpr(BinConvExpr(x(a), "to_big_endian_64"), "from_ieee754_64"))
  def wordStem(a: Column): Column = c(WordStem(x(a)))
  /** Column access to the codegen'd binary conversions (BinConvExpr ops:
    * from_big_endian_64/32, from_ieee754_64/32, ...) for operators that
    * build plans directly (ops/RecordDecoders.scala's raw decoder). */
  def binConv(a: Column, op: String): Column = c(BinConvExpr(x(a), op))
  def wordpieceEncode(text: Column, vocab: Column): Column =
    c(WordPieceEncode(x(text), x(vocab)))
  def bpeEncode(text: Column, merges: Column): Column =
    c(BpeEncode(x(text), x(merges)))
  def tryExpr(a: Column): Column = c(TryExpression(x(a)))
  def mysqlDateFormat(ts: Column, fmt: String): Column =
    c(org.apache.spark.sql.catalyst.expressions.DateFormatClass(x(ts),
      org.apache.spark.sql.catalyst.expressions.Literal(MySqlFormat.toJava(fmt))))
  def qdigestAgg(a: Column): Column = c(QDigestAgg(x(a)).toAggregateExpression())
  def qdigestAggW(a: Column, w: Column): Column =
    c(QDigestAgg(x(a), Some(x(w))).toAggregateExpression())
  def approxPercentileW(a: Column, w: Column, p: Double): Column =
    c(ApproxPercentileWeightedAgg(x(a), x(w), p).toAggregateExpression())
  def mergeQdigest(a: Column): Column = c(QDigestMergeAgg(x(a)).toAggregateExpression())
  def valueAtQuantile(a: Column, q: Column): Column = c(ValueAtQuantile(x(a), x(q)))
  def hammingDistance(a: Column, b: Column): Column = c(HammingDistance(x(a), x(b)))
  def cosineSimilarity(a: Column, b: Column): Column = c(CosineSimilarity(x(a), x(b)))
  def dotProduct(a: Column, b: Column): Column = c(DotProduct(x(a), x(b)))
  def l2Squared(a: Column, b: Column): Column = c(L2Squared(x(a), x(b)))
  def approxSet(a: Column): Column = c(HllSketchAgg(x(a)).toAggregateExpression())
  /** Untyped merge(sketch) — dispatches on the sketch's type tag. */
  def sketchMerge(a: Column): Column = c(SketchMergeAgg(x(a)).toAggregateExpression())
  /** Resumable reservoir_sample — reference 4-arg signature (+ seed). */
  def reservoirSample(init: Column, initCount: Column, value: Column, k: Int,
    seed: Option[Long] = None): Column =
    c(ReservoirSampleAgg(x(init), x(initCount), x(value), k, seed)
      .toAggregateExpression())
  /** Untyped cardinality(sketch) over a tagged sketch varbinary. */
  def sketchCardinality(a: Column): Column = c(SketchCardinality(x(a)))
  def mergeHll(a: Column): Column = c(HllMergeAgg(x(a)).toAggregateExpression())
  def hllCardinality(a: Column): Column = c(HllCardinality(x(a)))
  def hmac(data: Column, key: Column, jdkAlgo: String): Column =
    c(Hmac(x(data), x(key), jdkAlgo))
  def makeSetDigest(a: Column): Column = c(SetDigestAgg(x(a)).toAggregateExpression())
  def mergeSetDigest(a: Column): Column = c(SetDigestMergeAgg(x(a)).toAggregateExpression())
  def setDigestCardinality(a: Column): Column = c(SetDigestCardinality(x(a)))
  def jaccardIndex(a: Column, b: Column): Column = c(JaccardIndex(x(a), x(b)))
  def intersectionCardinality(a: Column, b: Column): Column =
    c(IntersectionCardinality(x(a), x(b)))
  /** regexp_replace with a lambda over the capture-group array (the
    * reference's lambda overload), from the Scala API. */
  def regexpReplaceLambda(s: Column, p: Column, f: Column => Column): Column = {
    val v = NamedLambdaVariable("g",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType, containsNull = true),
      nullable = false)
    c(RegexpReplaceLambda(x(s), x(p), LambdaFunction(x(f(c(v))), Seq(v))))
  }

  def spatialPartitioning(
    xmin: Column, ymin: Column, xmax: Column, ymax: Column,
    partitionCount: Int, sampleCap: Int = 10000): Column =
    c(SpatialPartitioningAgg(x(xmin), x(ymin), x(xmax), x(ymax),
      partitionCount, sampleCap).toAggregateExpression())
  def spatialPartitions(
    tree: Column, xmin: Column, ymin: Column, xmax: Column, ymax: Column): Column =
    c(KdbPartitions(x(tree), x(xmin), x(ymin), x(xmax), x(ymax)))

  def khyperloglogAgg(v: Column, uii: Column): Column =
    c(KhllAgg(x(v), x(uii)).toAggregateExpression())
  def mergeKhll(a: Column): Column = c(KhllMergeAgg(x(a)).toAggregateExpression())
  def khllCardinality(a: Column): Column = c(KhllCardinality(x(a)))
  def khllJaccardIndex(a: Column, b: Column): Column = c(KhllJaccard(x(a), x(b)))
  def khllIntersectionCardinality(a: Column, b: Column): Column =
    c(KhllIntersection(x(a), x(b)))
  def reidentificationPotential(a: Column, threshold: Column): Column =
    c(KhllReidentification(x(a), x(threshold)))
  def uniquenessDistribution(a: Column, histogramSize: Column): Column =
    c(KhllUniqueness(x(a), x(histogramSize)))
  def approxMostFrequent(k: Int, a: Column, capacity: Int): Column =
    c(MostFrequentAgg(x(a), k, capacity).toAggregateExpression())
  def tdigestAgg(a: Column): Column = c(TDigestAgg(x(a)).toAggregateExpression())
  def mergeTdigest(a: Column): Column = c(TDigestMergeAgg(x(a)).toAggregateExpression())
  def tdigestValueAtQuantile(a: Column, q: Column): Column =
    c(TDigestValueAtQuantile(x(a), x(q)))
  def quantileAtValue(a: Column, v: Column): Column = c(QuantileAtValue(x(a), x(v)))
  def trimmedMean(a: Column, lo: Column, hi: Column): Column =
    c(TrimmedMean(x(a), x(lo), x(hi)))
  def kllSketchAgg(a: Column): Column = c(KllSketchAgg(x(a)).toAggregateExpression())
  def mergeKll(a: Column): Column = c(KllMergeAgg(x(a)).toAggregateExpression())
  def kllQuantile(a: Column, q: Column): Column = c(KllQuantile(x(a), x(q)))
  def kllRank(a: Column, v: Column): Column = c(KllRank(x(a), x(v)))
  def thetaSketchAgg(a: Column): Column = c(ThetaSketchAgg(x(a)).toAggregateExpression())
  def mergeTheta(a: Column): Column = c(ThetaMergeAgg(x(a)).toAggregateExpression())
  def thetaEstimate(a: Column): Column = c(ThetaEstimate(x(a)))
  def thetaUnion(a: Column, b: Column): Column = c(ThetaUnion(x(a), x(b)))
  def thetaIntersect(a: Column, b: Column): Column = c(ThetaIntersect(x(a), x(b)))
  def thetaANotB(a: Column, b: Column): Column = c(ThetaANotB(x(a), x(b)))
  def vectorSum(v: Column): Column = c(VectorSumAgg(x(v)).toAggregateExpression())
  def noisyApproxSetSfm(v: Column, epsilon: Double,
    buckets: Int = Sfm.DefaultBuckets, precision: Int = Sfm.DefaultPrecision): Column =
    c(SfmAgg(x(v), epsilon, buckets, precision).toAggregateExpression())
  def noisyApproxDistinctSfm(v: Column, epsilon: Double,
    buckets: Int = Sfm.DefaultBuckets, precision: Int = Sfm.DefaultPrecision): Column =
    c(SfmDistinctAgg(x(v), epsilon, buckets, precision).toAggregateExpression())
  def mergeSfm(v: Column): Column = c(SfmMergeAgg(x(v)).toAggregateExpression())
  def sfmCardinality(v: Column): Column = c(SfmCardinality(x(v)))
  def urlEncode(v: Column): Column = c(UrlEncode(x(v)))
  def urlDecode(v: Column): Column = c(UrlDecode(x(v)))
  def differentialEntropy(size: Int, v: Column): Column =
    c(DifferentialEntropyAgg(x(v), None, size, DiffEntropy.Vasicek)
      .toAggregateExpression())
  def differentialEntropyWeighted(size: Int, v: Column, w: Column): Column =
    c(DifferentialEntropyAgg(x(v), Some(x(w)), size, DiffEntropy.VasicekWeighted)
      .toAggregateExpression())
  def differentialEntropyHistogram(buckets: Int, v: Column, w: Column,
    method: String, min: Double, max: Double): Column =
    c(DifferentialEntropyAgg(x(v), Some(x(w)), buckets,
      DiffEntropy.methodOf(method), min, max).toAggregateExpression())
  def noisyCountGaussian(v: Column, noiseScale: Double, seed: Option[Long] = None): Column =
    c(NoisyGaussianAgg(x(v), noiseScale, None, None, seed, NoisyGaussian.ModeCount)
      .toAggregateExpression())
  def noisyCountIfGaussian(v: Column, noiseScale: Double, seed: Option[Long] = None): Column =
    c(NoisyGaussianAgg(x(v), noiseScale, None, None, seed, NoisyGaussian.ModeCountIf)
      .toAggregateExpression())
  def noisySumGaussian(v: Column, noiseScale: Double,
    clip: Option[(Double, Double)] = None, seed: Option[Long] = None): Column =
    c(NoisyGaussianAgg(x(v), noiseScale, clip.map(_._1), clip.map(_._2), seed,
      NoisyGaussian.ModeSum).toAggregateExpression())
  def noisyAvgGaussian(v: Column, noiseScale: Double,
    clip: Option[(Double, Double)] = None, seed: Option[Long] = None): Column =
    c(NoisyGaussianAgg(x(v), noiseScale, clip.map(_._1), clip.map(_._2), seed,
      NoisyGaussian.ModeAvg).toAggregateExpression())
  def vectorSumExact(v: Column, scale: Int): Column =
    c(VectorSumExactAgg(x(v), scale).toAggregateExpression())
}

/** Config-time injection: `.config("spark.sql.extensions",
  * "graft.functions.GraftExtensions")`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, usage, builder) =>
      ext.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo("graft.functions", name, usage),
        builder))
    }
    graft.rules.GraftRules.rules.foreach(r => ext.injectOptimizerRule(_ => r))
  }
}
