package graft

/** Driver-contract guards: the declared query surface must stay internally
  * consistent (a duplicate name would silently collapse in the Map the
  * driver consumes). */
class SparkEntrySpec extends SparkSpec {

  test("query names are unique (no silent Map collapse)") {
    val names = SparkEntry.queryDefs.map(_.name)
    val dupes = names.groupBy(identity).collect { case (n, g) if g.size > 1 => n }
    assert(dupes.isEmpty, s"duplicate query names: ${dupes.mkString(", ")}")
    assert(SparkEntry.queries.size == names.size)
  }

  test("every oracle belongs to a declared query; oracles are non-empty SQL") {
    val names = SparkEntry.queries.keySet
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(names.contains(name), s"oracle for unknown query $name")
      assert(sql.trim.toUpperCase.startsWith("SELECT") ||
        sql.trim.toUpperCase.startsWith("WITH"), s"$name oracle isn't a query")
    }
  }

  test("flagship entry returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // EVERY declared query must EXECUTE end-to-end — round 2 shipped a query
  // whose unresolved column only surfaced at runtime (it crashed the driver
  // bench) because nothing in the suite ran the query map. Row counts are
  // pinned against a golden file so a wrong-result regression (round 3's
  // q34 dropped half its rows while 206 specs stayed green) fails the
  // suite. Regenerate deliberately via `runMain graft.GoldenCounts`.
  private val golden: Map[String, Long] = {
    val in = getClass.getResourceAsStream("/golden_counts_sf0.001.tsv")
    assert(in != null, "golden_counts_sf0.001.tsv missing from test resources")
    scala.io.Source.fromInputStream(in).getLines()
      .map(_.split('\t')).map(a => a(0) -> a(1).toLong).toMap
  }

  test("every declared query has a pinned golden row count") {
    val missing = SparkEntry.queries.keySet -- golden.keySet
    assert(missing.isEmpty,
      s"queries without golden counts (run graft.GoldenCounts): " +
        missing.toSeq.sorted.mkString(", "))
  }

  // The driver's comparator materializes each result in pandas and sorts
  // rows across ALL columns — a raw ARRAY/MAP/STRUCT column is unhashable
  // there and errors the whole row (round 15 lost q141/q179 exactly this
  // way), and a DECIMAL column hash-differs at the TYPE level even when
  // every value matches (the driver canonicalizes DuckDB decimals to
  // floats on its pandas path while Spark parquet decimals stay exact —
  // the moneyStr contract at RelationalQueries.scala; q171's dcg/idcg
  // DECIMAL(18,6) outputs kept it red rounds 15–17 through two arithmetic
  // "fixes"). Contract: declared queries emit SCALAR, NON-DECIMAL columns
  // only; serialize collections at the query boundary (array_join, the
  // q84 convention) and decimals as moneyStr strings or micro-unit
  // BIGINTs (the q171 dcg_u convention).
  test("no declared query emits Array/Map/Struct/Decimal output columns") {
    import org.apache.spark.sql.types.{ArrayType, DecimalType, MapType, StructType}
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        fn(spark, "/root/testdata/sf0.001").schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
            f.dataType.isInstanceOf[MapType] ||
            f.dataType.isInstanceOf[StructType] ||
            f.dataType.isInstanceOf[DecimalType] =>
            s"$name.${f.name}: ${f.dataType.simpleString}"
        }
    }
    assert(bad.isEmpty,
      s"non-portable output columns (array_join collections; moneyStr or " +
        s"micro-unit BIGINT for decimals): " + bad.mkString(", "))
  }

  test("no oracle publishes round(<rational double ratio>, 6) — the q171 " +
      "cross-engine divergence class (exact ratios must publish as " +
      "integer ppm via integral division)") {
    // Spark's round-via-shortest-decimal-repr and DuckDB's
    // round-the-binary-value legitimately disagree within a half-ulp of
    // a 0.5e-6 HALF_UP boundary, and a ratio of exact decimals/integers
    // is a small-denominator rational that CAN land there (q171 did, two
    // driver rounds in a row). The portable publication for such ratios
    // is integer ppm via `//` (the q200 pattern). round(·, 6) stays legal
    // for transcendental chains (ln/exp/sqrt-norm cosines — boundary
    // hits are measure-zero and Round6.guarded covers the declared ln/exp
    // sites). This spec bans the rational-ratio syntactic class in every
    // oracle; the hash gate then forces the Spark twin to match.
    val banned = Seq(
      // round of a CAST-to-double numerator over anything
      ("round(CAST(..AS DOUBLE) / ..",
        """round\s*\(\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*/""".r),
      // round of anything over a CAST-to-double denominator, 6 digits
      ("round(.. / CAST(..AS DOUBLE), 6)",
        """/\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*,\s*6\s*\)""".r),
      // round of a mean: division by count(*) inside a 6-dp round
      ("round(.. / count(*), 6)",
        """/\s*count\s*\(\s*\*\s*\)\s*,\s*6\s*\)""".r),
      // r18 widenings — the forms the r17 sweep's regexes missed:
      // round-to-integer over a CASE whose ELSE is a double ratio (the
      // KMV/HLL estimator form; convert to (2C+den) // (2·den))
      ("round(CASE .. / CAST(..AS DOUBLE) END)",
        """round\s*\(\s*CASE[\s\S]{0,400}?/\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*END\s*\)""".r),
      // round-to-integer of an integer-product ratio (the q169
      // est_intersect form; convert to (2·num+den) // (2·den))
      ("round(CAST(..AS DOUBLE) * .. / CAST(..AS DOUBLE))",
        """round\s*\(\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*\*[\s\S]{0,200}?/\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*\)""".r),
      // 6-dp round whose argument ends in a parenthesized double-cast
      // ratio (the q102/q117/q119 histogram interpolation; publish as
      // floor(x·1e6 + 0.5) micro-units — floor binds to the binary
      // double in both engines)
      ("round((.. / CAST(..AS DOUBLE)) .., 6)",
        """/\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*\)+(\s*END)?\s*,\s*6\s*\)""".r),
      ("round(CASE .. / CAST(..AS DOUBLE) END, 6)",
        """/\s*CAST\s*\([^()]*AS\s+DOUBLE\s*\)\s*\)*\s*END\s*,\s*6\s*\)""".r))
    val hits = SparkEntry.oracleSql.toSeq.sortBy(_._1).flatMap {
      case (name, sql) =>
        banned.collect { case (label, re) if re.findFirstIn(sql).isDefined =>
          s"$name: $label"
        }
    }
    assert(hits.isEmpty,
      "rational-ratio round-6 publication (convert to integer ppm via " +
        "integral division — see Round6 Scaladoc): " + hits.mkString("; "))
  }

  // A full Verify run prints ~500 `WindowExec: No Partition Defined`
  // warnings; every site was audited bounded-by-construction (top-k tails
  // after salted two-phase ranking, probe/threshold grids, sketch
  // survivors ≤ k·fanout, output-sized ranks) — but at that volume a NEW
  // data-scaled unpartitioned window (a real 100 TB single-task
  // bottleneck) would be invisible in the noise (r17 verdict item 4).
  // This pin freezes the audited inventory: a new offender (or a count
  // increase) fails with instructions; a decrease fails too so the pin
  // stays current. Counts are unpartitioned logical Window nodes in the
  // OPTIMIZED plan at sf0.001.
  test("unpartitioned windows appear only in the audited bounded-tail inventory") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val audited = Map(
      "q05_numeric_sort" -> 1, "q102_hist_quantiles" -> 1,
      "q109_score_ensemble" -> 2, "q126_web_pipeline_e2e" -> 1,
      "q146_threshold_sweep" -> 2, "q150_diverse_topk" -> 1,
      "q159_vocab_growth" -> 1, "q166_key_skew" -> 2,
      "q169_kmv_intersect" -> 13, "q174_zipf_slope" -> 1,
      // q209: the same kmvBottomK bounded class as q169 — every
      // unpartitioned node is the global rank over <= k·fanout salted
      // survivors, replicated across the a/b/union/diff-split subtrees
      "q209_kmv_difference" -> 18,
      "q197_fit_serve_sweep" -> 2, "q198_index_search_ranked" -> 1,
      "q200_gini_sources" -> 1, "q201_trending_terms" -> 1,
      "q34_lot_sort" -> 1, "q75_shuffle_shards" -> 1,
      "q77_token_budget" -> 1, "q84_vocab_encode" -> 2,
      "q86_top_fraction" -> 2, "q95_priority_sample" -> 2,
      "q98_temperature_sample" -> 1)
    val found = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val plan = fn(spark, "/root/testdata/sf0.001")
          .queryExecution.optimizedPlan
        val n = plan.collect {
          case w: LWindow if w.partitionSpec.isEmpty => w
        }.size
        if (n > 0) Some(name -> n) else None
    }.toMap
    val diff = (audited.keySet ++ found.keySet).toSeq.sorted.flatMap { q =>
      (audited.getOrElse(q, 0), found.getOrElse(q, 0)) match {
        case (a, f) if a == f => None
        case (a, f) => Some(s"$q: audited $a, found $f")
      }
    }
    assert(diff.isEmpty,
      "unpartitioned-window inventory changed — if the new window is a " +
        "data-scaled frame, fix the op (salted two-phase ranking); if it " +
        "is provably bounded (probe grid / sketch survivors / output " +
        "tail), document it at the site and update this pin: " +
        diff.mkString("; "))
  }

  // Codegen-strict session: a generated-code compile failure normally falls
  // back to interpreted execution with only a log line — q29 shipped that
  // way (Spark's subexpression elimination under Expand emits an invalid
  // split-method signature). fallback=false turns the silent perf bug into
  // a test failure.
  private lazy val strict = {
    val s = spark.newSession()
    s.conf.set("spark.sql.codegen.fallback", "false")
    s
  }

  // Leak contract: once a query has run, `Caches.release()` leaves none
  // of the RDDs it persisted or checkpointed in the block manager. The
  // query is also written in full to the `noop` sink first: `count()`
  // prunes columns and, for an iterative op, whole rounds, so only a full
  // write evaluates every output column and materializes every pinned
  // round the leak check must see. The session is shared, so only RDDs that were not
  // persisted before the query count. Exempt queries, each with its
  // reason: none.
  private val leakExempt: Map[String, String] = Map.empty

  for (name <- SparkEntry.queries.keys.toSeq.sorted)
    test(s"declared query $name matches its golden row count at sf0.001 (codegen-strict)") {
      val sc = spark.sparkContext
      val before = sc.getPersistentRDDs.keySet
      val df = SparkEntry.queries(name)(strict, "/root/testdata/sf0.001")
      val n = df.count()
      golden.get(name).foreach(exp =>
        assert(n == exp, s"$name returned $n rows, golden says $exp"))
      df.write.format("noop").mode("overwrite").save()
      graft.core.Caches.release()
      val leaked = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }
      assert(leaked.isEmpty || leakExempt.contains(name),
        s"$name left ${leaked.size} persisted RDD(s) after Caches.release(): " +
          leaked.values.map(_.toString).mkString("; "))
    }
}
