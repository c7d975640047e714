package graft

/** Driver-contract checks: every query runs at sf0.001, every oracle key
  * has a matching query, entry returns rows.
  */
class EntrySpec extends SparkSpec {

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracleSql key has a queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("every oracleSql text matches its sha256 in oracle_sql.sha256") {
    // The manifest makes any change to a DuckDB oracle text a visible diff
    // of src/test/resources/oracle_sql.sha256 (one sorted `key sha256` line
    // per key). To accept a change, apply the printed -/+ lines to the file.
    def sha256(s: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map(b => f"$b%02x").mkString
    val live = SparkEntry.oracleSql.map { case (k, sql) => k -> sha256(sql) }
    val src = scala.io.Source.fromResource("oracle_sql.sha256")(scala.io.Codec.UTF8)
    val committed =
      try src.getLines().filter(_.nonEmpty).map { l => val Array(k, h) = l.split(' '); k -> h }.toMap
      finally src.close()
    val diff = (live.keySet ++ committed.keySet).toSeq.sorted.flatMap { k =>
      if (live.get(k) == committed.get(k)) Nil
      else committed.get(k).map(h => s"-$k $h").toSeq ++ live.get(k).map(h => s"+$k $h")
    }
    if (diff.nonEmpty)
      fail(s"oracle SQL differs from oracle_sql.sha256; apply these lines to it:\n${diff.mkString("\n")}")
  }

  test("no SF-scaling table carries a broadcast hint (customer/supplier/part — AQE decides)") {
    // customer (150k×SF), supplier (10k×SF) and part (200k×SF) all grow
    // with SF — billions of rows at the 100 TB design point — so a
    // forced broadcast hint on any of them overrides AQE's size check
    // and guarantees an OOM at scale. Fixed-size dimension hints
    // (nation=25, region=5, 1-row aggregates) are fine; this asserts the
    // HINT's absence on any frame carrying a scaling table's key, not
    // the physical join choice (AQE may still pick broadcast at small
    // SF, which is correct). Filtered-but-scaling frames (ASIA
    // suppliers, %widget% parts) count too: a fixed fraction of a
    // scaling table still scales.
    val scalingKeys = Set("c_custkey", "s_suppkey", "p_partkey")
    val qs = Seq(
      "q2_min_cost_supplier", "q3_shipping_priority", "q3_shipping_colocated", "q5_local_supplier",
      "q7_volume_shipping", "q7_volume_colocated", "q8_market_share", "q9_product_profit",
      "q9_product_colocated", "q10_returned_items", "q11_important_parts", "q14_promo_revenue",
      "q15_top_supplier", "q16_parts_suppliers", "q17_small_quantity", "q18_large_orders",
      "q18_large_orders_colocated", "q19_discounted_revenue", "q20_excess_suppliers")
    for (q <- qs) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.analyzed
      val bad = plan.collect {
        case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint
            if h.child.output.exists(a => scalingKeys(a.name)) => h
      }
      assert(bad.isEmpty, s"$q still broadcast-hints an SF-scaling table (customer/supplier/part)")
    }
  }

  test("colocated Q7/Q9 join the facts with zero fact-side exchange") {
    // The bucketed layout means the lineitem⋈orders join needs no
    // shuffle of either fact; the only hash exchanges allowed are the
    // post-partial-agg groupBy and any AQE-chosen dimension shuffle —
    // neither may repartition on the fact join keys.
    for (q <- Seq("q7_volume_colocated", "q9_product_colocated", "q12_ship_colocated", "q21_waiting_colocated")) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.executedPlan.toString
      for (key <- Seq("l_orderkey", "o_orderkey"))
        assert(!plan.contains(s"Exchange hashpartitioning($key"),
          s"$q fact side still shuffles on $key:\n$plan")
    }
  }

  test("scale-shape assertions: no keyed-window sorts, bounded top-k, broadcast probes") {
    // agg_value_quartiles must stay window-free (a 5-value partition key
    // would funnel each type through one task's sort at scale).
    val quart = SparkEntry.queries("agg_value_quartiles")(spark, Sf).queryExecution.executedPlan.toString
    assert(!quart.contains("Window"), s"quartiles regressed to a window plan:\n$quart")
    // rescore's first phase must be a bounded TakeOrderedAndProject, not
    // a full sort.
    val resc = SparkEntry.queries("search_rescore")(spark, Sf).queryExecution.executedPlan.toString
    assert(resc.contains("TakeOrderedAndProject"), s"rescore phase one is not bounded:\n$resc")
    // maxsim's probe side must broadcast (the corpus side never shuffles
    // for the join).
    val ms = SparkEntry.queries("ann_maxsim")(spark, Sf).queryExecution.executedPlan.toString
    assert(ms.contains("BroadcastNestedLoopJoin") || ms.contains("BroadcastExchange"),
      s"maxsim probes are not broadcast:\n$ms")
    // rolling WAU must fan out via explode (generate/sequence), not a
    // range nested-loop join of pairs x spine.
    val wau = SparkEntry.queries("agg_rolling_wau")(spark, Sf).queryExecution.executedPlan.toString
    assert(wau.contains("Generate"), s"rolling WAU lost its explode fan-out:\n$wau")
    // geo_line must bound per-group state through the TopKPerKey
    // operator (bounded heaps), never collect-every-point-then-slice.
    val gl = SparkEntry.queries("search_geo_line")(spark, Sf).queryExecution.executedPlan.toString
    assert(gl.contains("TopKPerKey"), s"geo_line lost its bounded-heap cap:\n$gl")
    // geohash_grid is one hash agg + bounded top-k: no window, no sort of
    // the fact table (the base32 key is per-row expression work).
    val gh = SparkEntry.queries("search_geohash_grid")(spark, Sf).queryExecution.executedPlan.toString
    assert(gh.contains("TakeOrderedAndProject") && !gh.contains("Window"),
      s"geohash_grid lost its agg+bounded-top-k shape:\n$gh")
    // BQ candidate ranking is a bounded top-k over the code scan, and the
    // final exact rescore joins only the candidate set.
    val bq = SparkEntry.queries("ann_bq_topk")(spark, Sf).queryExecution.executedPlan.toString
    assert(bq.contains("TakeOrderedAndProject"), s"BQ ranking is not bounded:\n$bq")
    // nested agg folds per parent row (size + decimal HOF) — the element
    // table must never explode.
    val na = SparkEntry.queries("search_nested_agg")(spark, Sf).queryExecution.executedPlan.toString
    assert(!na.contains("Generate"), s"nested agg regressed to an explode plan:\n$na")
    // parent agg shrinks the join input to distinct (bucket, key) pairs
    // BEFORE the parent join — the aggregate below the join is that
    // distinct (two-key grouping), not a post-join repair.
    val pa = SparkEntry.queries("search_parent_agg")(spark, Sf).queryExecution.executedPlan.toString
    assert(pa.contains("HashAggregate(keys=[key"), s"parent agg lost its pre-join distinct:\n$pa")
  }

  test("indexed percolate keys broadcast their registry joins (never sort-merge)") {
    // The r14 10⁶-rule load bench caught the registry frames falling out
    // of the 10 MB auto-broadcast threshold: Spark re-shuffled the
    // static side + the candidate volume EVERY micro-batch. The explicit
    // hints must hold in every indexed-percolate plan, permanently.
    for (q <- Seq("search_percolate_indexed", "search_percolate_indexed_rich",
      "search_percolate_indexed_negation", "search_dsl_json_percolate_indexed")) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.executedPlan.toString
      assert(!plan.contains("SortMergeJoin"),
        s"$q: a registry join fell back to sort-merge (candidate volume would shuffle):\n$plan")
      assert(plan.contains("BroadcastHashJoin"), s"$q: no broadcast join in plan:\n$plan")
    }
  }

  test("sketch-tier audit: no *_approx plan contains a distinct Expand") {
    // The §5 audit rule, applied as a standing sweep instead of a
    // one-off: a sketch-tier request must be sketch-tier THROUGHOUT.
    // One exact count(DISTINCT) alongside mergeable sketches compiles
    // to an Expand that re-shuffles the whole scan — the r13 dh-twin
    // finding (79 s at 100× vs 2.3 s with HLL). Every *_approx key's
    // physical plan must therefore be Expand-free, permanently.
    val approxKeys = SparkEntry.queries.keys.filter(_.endsWith("_approx")).toSeq.sorted
    assert(approxKeys.nonEmpty)
    for (q <- approxKeys) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.executedPlan.toString
      assert(!plan.contains("Expand"),
        s"$q: sketch-tier plan contains a distinct-expand (exact distinct smuggled into the sketch tier):\n$plan")
    }
  }

  test("join-back family pays each fact scan once (cache or window restructure)") {
    // q11/q15 branch on a shared aggregate: both consumers must read the
    // persisted frame (2 InMemoryTableScans; the fact scan runs once, at
    // cache population). q17/q20 were restructured to a single declarative
    // pass: exactly one FileScan per distinct table, no cache needed.
    // collect() does not descend into InMemoryRelation's cached plan, so
    // fileScans counts only scans the main plan would re-run.
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    val expected = Map(
      "q11_important_parts" -> (0, 2), // lineitem+sup+nation+region all behind the cache
      "q15_top_supplier"    -> (1, 2), // supplier + cached revenue agg twice
      "q17_small_quantity"  -> (2, 0), // lineitem + part, once each
      "q20_excess_suppliers" -> (5, 0) // one scan per distinct table
    )
    for ((q, (maxFiles, wantMem)) <- expected) {
      val plan = SparkEntry.queries(q)(spark, Sf).queryExecution.sparkPlan
      val files = plan.collect { case x: FileSourceScanExec => x }.length
      val mem   = plan.collect { case x: InMemoryTableScanExec => x }.length
      assert(files <= maxFiles && mem == wantMem,
        s"$q re-scans its facts: files=$files (max $maxFiles), memScans=$mem (want $wantMem)\n$plan")
    }
  }

  test("events.ts physical-type matrix: LTZ / NTZ / int64-nanos writers all work") {
    // Round 8 broke agg_sessionize when a testdata re-generation switched
    // events.ts from int64-nanos to timestamp[us] (NTZ) and an NTZ->DOUBLE
    // cast stopped analyzing. Guard: write the same events rows under all
    // three physical types, assert Tables.events canonicalizes every one to
    // TIMESTAMP_NTZ, and that the ts-arithmetic queries run and agree
    // byte-for-byte across writers.
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.TimestampNTZType
    val base = Tables.events(spark, Sf)
    val root = java.nio.file.Files.createTempDirectory("graft-ts-matrix")
    val variants = Seq(
      "ltz"   -> base.withColumn("ts", col("ts").cast("timestamp_ltz")),
      "ntz"   -> base.withColumn("ts", col("ts").cast("timestamp_ntz")),
      "nanos" -> base.withColumn("ts", expr("unix_micros(cast(ts as timestamp_ltz)) * 1000L"))
    )
    val others = new java.io.File(Sf).listFiles.map(_.getName).filter(n => n.endsWith(".parquet") && n != "events.parquet")
    val dirs = variants.map { case (name, df) =>
      val dir = root.resolve(name)
      java.nio.file.Files.createDirectories(dir)
      df.write.mode("overwrite").parquet(dir.resolve("events.parquet").toString)
      // the ts-arithmetic queries also read the other tables from the same dir
      others.foreach(n => java.nio.file.Files.createSymbolicLink(dir.resolve(n), java.nio.file.Paths.get(Sf, n)))
      name -> dir.toString
    }
    val tsQueries = Seq(
      "agg_sessionize", "agg_session_window_native", "agg_event_windows", "agg_path_transitions",
      "agg_retention_cohorts", "monitor_anomaly_zscore", "search_date_histogram",
      "search_decay_gauss", "search_distance_feature", "cdc_asof_enrich")
    for ((name, dir) <- dirs) {
      assert(Tables.events(spark, dir).schema("ts").dataType == TimestampNTZType,
        s"ts=$name not canonicalized to TIMESTAMP_NTZ")
      for (q <- tsQueries)
        assert(SparkEntry.queries(q)(spark, dir).count() > 0, s"$q on ts=$name writer returned no rows")
    }
    // same rows in, same sessions out — independent of the writer
    val perVariant = dirs.map { case (_, dir) =>
      SparkEntry.queries("agg_sessionize")(spark, dir).collect().map(_.toString).sorted.toSeq
    }
    assert(perVariant.distinct.size == 1, "agg_sessionize output differs across ts writers")
  }

  test("orders.o_orderdate physical-type matrix: DATE / timestamp / int64-nanos writers all work") {
    // The same writer-variance class as the events.ts matrix above, for
    // the date columns: a testdata re-generation that writes o_orderdate
    // as timestamp[us] or int64-nanos must not flip the
    // date_trunc/date_histogram plans to timestamp semantics.
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.DateType
    val base = Tables.orders(spark, Sf)
    val root = java.nio.file.Files.createTempDirectory("graft-date-matrix")
    val variants = Seq(
      "date"  -> base,
      "ts"    -> base.withColumn("o_orderdate", col("o_orderdate").cast("timestamp")),
      "nanos" -> base.withColumn("o_orderdate", expr("unix_micros(cast(cast(o_orderdate as timestamp) as timestamp_ltz)) * 1000L"))
    )
    val others = new java.io.File(Sf).listFiles.map(_.getName).filter(n => n.endsWith(".parquet") && n != "orders.parquet")
    val dirs = variants.map { case (name, df) =>
      val dir = root.resolve(name)
      java.nio.file.Files.createDirectories(dir)
      df.write.mode("overwrite").parquet(dir.resolve("orders.parquet").toString)
      others.foreach(n => java.nio.file.Files.createSymbolicLink(dir.resolve(n), java.nio.file.Paths.get(Sf, n)))
      name -> dir.toString
    }
    // search_top_n and q3 PROJECT the raw date column — the class the
    // first canonicalization pass missed (output values must be DATE
    // whatever the writer wrote, and the oracles cast to match).
    val dateQueries = Seq("search_date_histogram_filled", "search_change_point", "q4_order_priority",
      "search_top_n", "q3_shipping_priority")
    for ((name, dir) <- dirs) {
      assert(Tables.orders(spark, dir).schema("o_orderdate").dataType == DateType,
        s"o_orderdate=$name not canonicalized to DATE")
      for (q <- dateQueries)
        assert(SparkEntry.queries(q)(spark, dir).count() > 0, s"$q on o_orderdate=$name writer returned no rows")
    }
    for (q <- Seq("search_date_histogram_filled", "search_top_n")) {
      val perVariant = dirs.map { case (_, dir) =>
        SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
      }
      assert(perVariant.distinct.size == 1, s"$q output differs across o_orderdate writers")
    }
  }

  test("all queries execute and are non-empty at sf0.001") {
    val failures = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val n = fn(spark, Sf).count()
        if (n == 0 && !Set("dedup_embedding", "dedup_ngram_jaccard").contains(name)) Some(s"$name: 0 rows")
        else None
      } catch { case e: Throwable => Some(s"$name: ${e.getMessage.take(120)}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("registry-wide plan audit: every global window is bucket-sized, never over a scan") {
    // An unpartitioned Window moves its ENTIRE input to one partition —
    // legitimate only when that input is already bounded: a bucket table
    // (aggregate below), or a top-k/limit result. Over raw scan rows it
    // is the single-machine sort that kills a 100 TB plan. All current
    // sites are pipeline aggs / hybrid fusion / rank_eval over bounded
    // frames; this audit keeps it that way for every future key.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    def bounded(p: SparkPlan): Boolean =
      p.isInstanceOf[BaseAggregateExec] ||
        p.getClass.getSimpleName.contains("Limit") ||
        p.getClass.getSimpleName.contains("TakeOrdered") ||
        p.children.exists(bounded)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        fn(spark, Sf).queryExecution.sparkPlan
          .collect { case w: WindowExec if w.partitionSpec.isEmpty && !bounded(w.child) => name }
          .distinct
      } catch { case e: Throwable => Seq(s"$name (plan failed: ${e.getMessage.take(80)})") }
    }
    assert(offenders.isEmpty, s"data-sized global window in: ${offenders.mkString(", ")}")
  }

  test("registry-wide plan audit: no CartesianProduct anywhere (whole registry)") {
    // A crossJoin is legitimate ONLY against a broadcast 1-row scalar
    // frame (it compiles to BroadcastNestedLoopJoin); a CartesianProduct
    // node means two non-broadcast sides met without keys — the
    // quadratic-at-scale accident this audit exists to catch, standing,
    // for every key the registry will ever hold.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val plan = fn(spark, Sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      } catch { case e: Throwable => Some(s"$name (plan failed: ${e.getMessage.take(80)})") }
    }
    assert(offenders.isEmpty, s"CartesianProduct in: ${offenders.mkString(", ")}")
  }
}
