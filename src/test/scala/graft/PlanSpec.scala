package graft

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions.{lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the physical-plan shapes the 100 TB story depends on
  * (SCALING.md): filter/column pushdown into scans, broadcast joins for
  * dimensions, TakeOrderedAndProject for global top-k, partial+final
  * aggregation. A regression that silently turns one of these into a
  * full scan or an extra shuffle fails here, not in production. */
class PlanSpec extends AnyFunSuite {
  private def spark = TestSpark.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("nj01: scale-safe NOT IN survives a disabled broadcast threshold (no BNLJ, no null-aware anti)") {
    // the whole point of the rewrite: q55's native NOT IN NEEDS a
    // broadcast build side (isNullAwareAntiJoin) — nj01 must plan and
    // run with broadcasting effectively off, as plain shuffle anti
    // joins, except the 1-row stats frame which is broadcast by hint
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val df = SparkEntry.queries("nj01_scale_safe_not_in")(s2, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(!p.contains("isNullAwareAntiJoin"), p.take(3000))
    assert("(SortMergeJoin|ShuffledHashJoin) \\[?.*LeftAnti".r
      .findFirstIn(p).isDefined,
      "anti join must be a shuffle join under threshold -1\n" + p.take(3000))
    // and it still computes the right branches in that mode
    val rows = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // guard the guard: the strict > below silently assumes the
    // null-free subquery matches something at this SF — if the filter
    // ever decays to empty, empty-S semantics make the counts TIE and
    // the assert would fail looking like a branch regression
    val subN = s2.read.parquet(s"$sf/orders.parquet")
      .filter(org.apache.spark.sql.functions.col("o_totalprice") > 400000)
      .count()
    assert(subN > 0L,
      "fixture decay: null-free subquery (o_totalprice > 400000) is empty " +
        "at this SF — retune the filter before reading the branch asserts")
    assert(rows("empty_sub") > rows("null_free"),
      "empty subquery keeps ALL probe rows incl. NULL keys")
    assert(rows("with_nulls") == 0L, "a NULL in the subquery empties NOT IN")
  }

  test("q02: predicates and projection pushed to the parquet scan") {
    val p = plan("q02_filter_project")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p.take(2000))
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "shipdate range not pushed")
    assert(!p.contains("l_returnflag"), "unused column not pruned from scan")
  }

  test("q05: dimension joins are broadcast hash joins") {
    val p = plan("q05_join_broadcast")
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"), "dimension join must not shuffle-sort")
  }

  test("q04: global top-k plans as TakeOrderedAndProject (no full sort)") {
    val p = plan("q04_topk")
    assert(p.contains("TakeOrderedAndProject"), p.take(2000))
  }

  test("q01: aggregation is partial then final (map-side combine)") {
    val p = plan("q01_pricing_summary")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final HashAggregate pair")
  }

  test("q06: only the fact-fact join may shuffle; dims broadcast") {
    val p = plan("q06_join_multiway")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 3, p.take(3000))
  }

  test("q15: top-k per group runs through the k-bounded TopK operator, not a full-group window sort") {
    val p = plan("q15_window_rank")
    assert("TopK".r.findAllIn(p).size >= 2,
      "expected partial+final TopK pair\n" + p.take(3000))
    // the rank window must consume the TopK output (≤ 3·k rows), not
    // the raw fact table: Window sits ABOVE TopK in the plan tree
    assert(p.contains("Window") && p.indexOf("Window") < p.indexOf("TopK"),
      "rank window must run over the pruned TopK output\n" + p.take(3000))
  }

  test("tx15: Zipf top-20 has no single-partition Window; top-k is TakeOrdered") {
    val p = plan("tx15_zipf")
    assert(!p.contains("Window"),
      "global-ORDER-BY window funnels the vocabulary through one task\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
  }

  test("q47: read-back scan prunes partitions via the o_year predicate") {
    val p = plan("q47_write_roundtrip")
    assert("PartitionFilters: \\[[^\\]]".r.findFirstIn(p).isDefined,
      "expected a non-empty PartitionFilters on the read-back scan\n" + p.take(3000))
    assert(p.contains("o_year"), p.take(3000))
  }

  test("ivf01: centroid assignment is map-side — no window, no shuffle of an inflated pair set") {
    val p = plan("ivf01_assign")
    assert(!p.contains("Window"),
      "nearest-centroid argmax must not be a window over a crossJoin\n" + p.take(3000))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "centroid array must arrive as a 1-row broadcast\n" + p.take(3000))
  }

  test("mm01: metadata query never reads the payload-bearing text column eagerly") {
    val p = plan("mm01_binary_meta")
    // text is needed (it IS the payload source here) but the scan must
    // read only doc_id + text, not lang/source/n_chars
    assert(!p.contains("n_chars"), "unused metadata columns must be pruned")
  }

  test("rp01: random projection is map-only — no aggregation exchange, no join, no window") {
    val p = plan("rp01_random_projection")
    // the constant sign matrix lives in the plan as literals: the whole
    // projection must pipeline inside the scan stage (the final ORDER BY
    // on vec_id and the conditional ingest fan-out — r16: hash on the
    // leading key vec_id, see Tables.fanout — are the only exchanges
    // allowed)
    // at most ONE vec_id-keyed exchange (the conditional fan-out) and
    // zero others — a blanket vec_id exclusion would also mask a future
    // accidental vec_id-keyed shuffle (r16 review finding)
    val hashEx = "hashpartitioning\\(".r.findAllIn(p).size
    val fanoutEx = "hashpartitioning\\(vec_id".r.findAllIn(p).size
    assert(fanoutEx <= 1 && hashEx == fanoutEx,
      "projection must not shuffle beyond the one ingest fan-out\n" + p.take(3000))
    assert(!p.contains("Window") && !p.toLowerCase.contains("join"),
      "projection is per-row arithmetic only\n" + p.take(3000))
  }

  test("q38: correlated EXISTS/NOT EXISTS decorrelates to semi + anti joins") {
    val p = plan("q38_exists_correlated")
    assert(p.contains("LeftSemi"), "EXISTS must plan as a left-semi join\n" + p.take(3000))
    assert(p.contains("LeftAnti"), "NOT EXISTS must plan as a left-anti join\n" + p.take(3000))
  }

  test("dd09: keep-best policy runs through the k-bounded TopK operator") {
    val p = plan("dd09_keep_best_in_bucket")
    assert("TopK".r.findAllIn(p).size >= 2,
      "expected partial+final TopK pair\n" + p.take(3000))
  }

  test("tx11: the whole quality-rule panel is one scan + one aggregation (no joins)") {
    val p = plan("tx11_quality_funnel")
    assert(!p.contains("Join"), "rule panel must not join per metric\n" + p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation\n" + p.take(3000))
  }

  test("q39: FILTER aggregates stay in one partial+final pass (no Expand)") {
    val p = plan("q39_filtered_agg")
    assert(!p.contains("Expand"), "FILTER aggs must not expand rows\n" + p.take(3000))
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("tx12: postings build gets map-side partial aggregation after the explode") {
    val p = plan("tx12_inverted_index")
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      "expected partial+final aggregation pair\n" + p.take(3000))
  }

  test("dd11: repeated-ngram top-30 is TakeOrdered over a partial+final agg (no global sort)") {
    val p = plan("dd11_repeated_ngrams")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("Window"), "no window over the gram table\n" + p.take(3000))
    assert("HashAggregate|ObjectHashAggregate|SortAggregate".r.findAllIn(p).size >= 2,
      "gram counting must combine map-side\n" + p.take(3000))
  }

  test("mx01: totals row joins as broadcast; no shuffle of per-source aggregates") {
    val p = plan("mx01_domain_mix")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "totals must broadcast, not shuffle\n" + p.take(3000))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      p.take(3000))
  }

  test("dd12: delta-vs-corpus admission broadcasts the delta side; corpus never re-shuffles for the probe") {
    val p = plan("dd12_incremental_admission")
    assert(p.contains("BroadcastHashJoin"),
      "delta bands must broadcast against the corpus band table\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("fz01: fuzzy join is an equi-join on the variant key, never a cartesian") {
    val p = plan("fz01_fuzzy_join")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "deletion-neighborhood join must stay an equi-join\n" + p.take(3000))
  }

  test("bm01: corpus stats broadcast; global top-20 is TakeOrdered, no sort-merge join") {
    val p = plan("bm01_bm25")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("SortMergeJoin"),
      "the 1-row stats frame must broadcast, never shuffle the corpus")
  }

  test("sd01: within-cell near-dup confirm is an equi-join on the cell id") {
    val p = plan("sd01_semdedup")
    assert(
      "(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \\[cid#".r
        .findFirstIn(p).isDefined,
      "pair confirm must be keyed by cid (cell-bounded), got:\n" + p.take(3000))
  }

  test("mx02: smoothed-weight normalizer joins as broadcast; no shuffle of per-source rows") {
    val p = plan("mx02_temperature_mix")
    assert(!p.contains("SortMergeJoin"), p.take(3000))
  }

  test("nu01: normalization is map-only — no join, no aggregation") {
    val p = plan("nu01_nfc_normalize")
    assert(!p.contains("Join"), p.take(3000))
    assert(!p.contains("HashAggregate"), p.take(3000))
  }

  test("ev10: trigram inflation happens after the single per-user exchange; top-5 is TakeOrdered") {
    val p = plan("ev10_path_mining")
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      "exactly one shuffle keys events by user\n" + p.take(3000))
  }

  test("fa01/fa02: filtered ANN probes on an equi-join with the label filter pushed to the scan") {
    // the assignedDf build inside the cached relation carries the
    // intentional 1-row broadcast-centroid cross (BNLJ with a bounded
    // build side — the registry-wide rule tolerates it); what must
    // hold is that the CANDIDATE probe is a hash equi-join on cid and
    // nothing plans a CartesianProduct
    for (name <- Seq("fa01_filtered_ann", "fa02_filtered_ann_adaptive")) {
      val p = plan(name)
      assert(!p.contains("CartesianProduct"),
        s"$name: no shuffle-replicating join\n" + p.take(3000))
      assert(p.contains("BroadcastHashJoin [cid"),
        s"$name: the probe must stay a hash equi-join on cid\n" + p.take(3000))
      // the label predicate reaches the parquet scan: pre-filtering the
      // inverted list is the point of IDSelector semantics
      assert("(LessThan\\(label|EqualTo\\(label)".r.findFirstIn(p).isDefined,
        s"$name: label predicate must be pushed to the embeddings scan\n" +
          p.take(3000))
    }
  }

  test("no registry query plans a CartesianProduct") {
    // crossJoin against a broadcast 1-row aggregate plans as
    // BroadcastNestedLoopJoin (fine — the big side streams once); a
    // CartesianProduct means BOTH sides shuffle-replicate, the one
    // join shape with no 100 TB story. Planning-only sweep: build each
    // query's executed plan at sf0.001 and grep.
    val offenders = Registry.all.flatMap { gq =>
      val p = gq.build(spark, sf).queryExecution.executedPlan.toString
      if (p.contains("CartesianProduct")) Some(gq.name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: ${offenders.mkString(", ")}")
  }

  test("dd13: hot-gram mark-back is an equi-join on the gram key, never a hinted broadcast") {
    // The hot set (df>=3 grams) grows WITH the corpus — round-6's weak
    // finding was an explicit broadcast() here. The safe shape: a plain
    // equi-join on gram (the key the hot aggregation already shuffled
    // on); AQE may still broadcast at runtime while the set is small.
    val p = plan("dd13_boilerplate_scrub")
    assert("(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin)".r.findFirstIn(p).isDefined,
      "mark-back must stay an equi-join\n" + p.take(2000))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
      p.take(2000))
    val analyzed = SparkEntry.queries("dd13_boilerplate_scrub")(spark, sf)
      .queryExecution.analyzed
    val hints = analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    assert(hints.isEmpty,
      "no explicit broadcast hint on the corpus-growing hot-gram frame")
  }

  test("ad01/ad02: the injected rewrite splits the pair's plans — Expand exact, HLL++ sketched") {
    // the registry face of ApproxDistinctRewrite: identical DataFrame
    // code, divergent physical plans purely via the session flag
    val exact = plan("ad01_exact_distinct")
    assert(exact.contains("Expand"),
      "exact multi-distinct should plan the Expand round\n" + exact.take(2000))
    assert(!exact.contains("approx_count_distinct"),
      "flag off must stay exact\n" + exact.take(2000))
    val sketched = plan("ad02_approx_distinct")
    assert(sketched.contains("approx_count_distinct"),
      "injected rule must fire in ad02's child session\n" + sketched.take(2000))
    assert(!sketched.contains("Expand"),
      "sketched multi-distinct must not replicate rows\n" + sketched.take(2000))
  }

  test("join strategy hints steer the planner: broadcast / shuffle_hash / merge") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf)
    def planOf(h: String) =
      o.join(c.hint(h), o("o_custkey") === c("c_custkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("broadcast").contains("BroadcastHashJoin"))
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"),
      "shuffle_hash hint must yield a shuffled hash join (no sort)")
    assert(planOf("merge").contains("SortMergeJoin"),
      "merge hint must force SMJ even under the broadcast threshold")
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at runtime") {
    val dir = java.nio.file.Files.createTempDirectory("graft-dpp").toString + "/fact"
    Tables.orders(spark, sf)
      .withColumn("status", org.apache.spark.sql.functions.col("o_orderstatus"))
      .write.partitionBy("status").parquet(dir)
    // the dim must be a real source with a live Filter: a local
    // relation's filter constant-folds away and DPP then sees no
    // selective predicate to prune with
    val dimDir = java.nio.file.Files.createTempDirectory("graft-dpp-dim").toString + "/dim"
    // a bare boolean column does not count as a "likely selective"
    // predicate for the pruning heuristic (and `keep = true` folds to
    // one), so the dim filter is a string equality
    spark.createDataFrame(
        Seq(("F", "gold"), ("O", "base"), ("P", "base"))).toDF("status", "tier")
      .write.parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
      .filter(org.apache.spark.sql.functions.col("tier") === "gold")
    val joined = spark.read.parquet(dir).join(dim, "status")
    joined.collect()
    val p = joined.queryExecution.executedPlan.toString
    assert(p.toLowerCase.contains("dynamicpruning"),
      "fact scan must carry a dynamicpruning partition filter\n" + p.take(3000))
  }

  test("skewed shuffle join: AQE splits the hot partition at runtime") {
    val s = spark
    import s.implicits._
    val saved = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> s.conf.getOption(k))
    try {
      // thresholds scaled down so the test-sized hot key triggers the
      // same OptimizeSkewedJoin path a production hot key would
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
      s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force shuffle join
      val pad = "x" * 64
      val left = s.range(0, 200000)
        .select((when($"id" < 190000, 0L).otherwise($"id")).as("k"),
          lit(pad).as("pad"))
      val right = s.range(0, 1000).select($"id".as("k"), lit(1L).as("v"))
      // global agg, NOT groupBy(k): an agg keyed on the join key would
      // require the join's hash partitioning and veto the skew split
      val joined = left.join(right, "k")
        .agg(functions.sum(functions.length($"pad")))  // keeps pad un-pruned
      joined.collect()
      val p = joined.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("skew"),
        "AQE must mark/split the skewed partition\n" + p.take(3000))
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("hll03/hll04: register build crosses the wire once; rollup merges registers without rescan") {
    import org.apache.spark.sql.functions.{col, max}
    val ev = Tables.events(spark, sf).select(col("event_type"), col("user_id"))
    val regs = graft.operators.Hll.registers(
      ev, col("event_type"), col("user_id").cast("string"))
    val p1 = regs.queryExecution.executedPlan.toString
    // the fact stream is reduced map-side to (gkey, bucket, partial max)
    // and crosses the wire through exactly ONE exchange
    assert("Exchange hashpartitioning".r.findAllIn(p1).size == 1,
      "register build must shuffle exactly once\n" + p1.take(3000))
    assert(p1.contains("partial_max"),
      "expected map-side partial max before the exchange\n" + p1.take(3000))
    // hll03's rollup (registers → coarser grain by register-wise max):
    // ONE additional exchange carrying only register rows (≤ groups×64),
    // and the events scan still appears exactly once — re-aggregation
    // without rescan is the whole point of storing sketches
    val merged = regs.groupBy("bucket").agg(max(col("mj")).as("mj"))
    val p2 = merged.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p2).size == 2,
      "rollup must add exactly one register-sized exchange\n" + p2.take(3000))
    assert("Scan parquet|FileScan parquet|BatchScan".r.findAllIn(p2).size == 1,
      "rollup must not rescan the fact table\n" + p2.take(3000))
  }

  test("aj04: nearest as-of computes both directional scans in ONE window over one sort") {
    // The prev-carry ([unbounded,current] last) and next-probe
    // ([current,unbounded] first) share partitioning AND ordering, so
    // they must collapse into a single WindowExec — nearest costs one
    // shuffle + one sort, same as a single-direction as-of.
    val p = plan("aj04_asof_nearest")
    assert("\\bWindow \\[".r.findAllIn(p).size == 1,
      "both frames must plan into one WindowExec\n" + p.take(3000))
    assert(p.contains("last(") && p.contains("first("),
      "single WindowExec must carry both last() and first()\n" + p.take(3000))
  }

  test("mb01: margin joins broadcast; only the bounded pair self-join shuffles") {
    // item frequencies (≤ |parts| rows) and the 1-row basket count must
    // never shuffle the pair frame — they join as broadcasts.
    val p = plan("mb01_market_basket")
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2,
      "freq margins must broadcast-join the pair frame\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("gr04: triangle closing probe plans as a semi join, never materializing wedge x edge") {
    val p = plan("gr04_triangles")
    assert(p.contains("LeftSemi"),
      "triangle closure must be a semi probe\n" + p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("q55: nullable NOT IN plans null-aware (UNKNOWN honored); null-free variants stay hash anti joins") {
    // Spark 3.1+ plans single-column NOT IN as a null-aware
    // BroadcastHashJoin — "LeftAnti, BuildRight, true", the trailing
    // flag being isNullAwareAntiJoin — rather than the legacy
    // BroadcastNestedLoopJoin. The flag is what honors UNKNOWN; the
    // NOT EXISTS variant must stay a plain (false) anti join.
    val p = plan("q55_null_aware_anti")
    assert(p.contains("LeftAnti, BuildRight, true"),
      "nullable NOT IN must plan a null-aware anti join\n" + p.take(3000))
    assert(p.contains("LeftAnti, BuildRight, false"),
      "NOT EXISTS must stay a plain hash anti join\n" + p.take(3000))
    assert("LeftAnti".r.findAllIn(p).size >= 3,
      "all three variants plan anti joins\n" + p.take(3000))
  }

  test("ng01: native generator runs as Generate ngram_explode; top-10 is TakeOrdered") {
    val p = plan("ng01_native_ngrams")
    assert(p.contains("Generate ngramexplode"),
      "custom Generator must plan through GenerateExec\n" + p.take(3000))
    assert(p.contains("TakeOrderedAndProject"), p.take(3000))
    assert(!p.contains("CartesianProduct"), p.take(3000))
  }

  test("pa01: skyline dominance is a broadcast anti-join over the aggregated domain") {
    val p = plan("pa01_skyline")
    assert(p.contains("LeftAnti"),
      "dominance must plan as an anti join\n" + p.take(3000))
    // the anti join consumes the aggregate output, so a partial+final
    // HashAggregate pair sits below it — fact rows never meet pairwise
    assert("HashAggregate".r.findAllIn(p).size >= 2, p.take(3000))
  }

  test("ev15: last-touch attribution runs ONE window pass (user-partitioned)") {
    val p = plan("ev15_attribution")
    assert("Window".r.findAllIn(p).size == 1,
      "expected exactly one WindowExec\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
  }

  test("ev17: pure interval join plans as an equi-join on the time bin — no nested loop") {
    val p = plan("ev17_bucketized_interval")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "time-bin blocking must make the non-equi join an equi-join\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(3000))
  }

  test("dirfile discovery: phase-1 scan reads ONLY the path column (content never deserialized)") {
    // a parquet-backed corpus (the uncached 100 TB path): discovery of
    // directory files must plan as a path-only columnar scan, not a
    // whole-row deserializing lambda filter that drags every file's
    // content bytes through memory to match ~100 paths
    val dir = java.nio.file.Files.createTempDirectory("graft-dirscan").toFile
    try {
      val corpus = sources.Corpus.fromRecords(spark, Seq(
        "a/_meta.json" -> "{}".getBytes,
        "a/b/data.txt" -> "payload".getBytes))
      val corpusPath = s"$dir/corpus"
      corpus.write.mode("overwrite").parquet(corpusPath)
      val onDisk = spark.read.parquet(corpusPath)
      val probe = mr.ParentStacks.discoveryPlan(
        onDisk, sources.PathGlob("**/*.json"))
      val p = probe.queryExecution.executedPlan.toString
      val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
      assert(readSchema.contains("path"), p.take(2000))
      assert(!readSchema.contains("content"),
        "discovery scan must not read content\n" + readSchema)
      assert(!p.contains("DeserializeToObject"),
        "discovery must be a Column predicate, not a typed row lambda\n" +
          p.take(2000))
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(dir)
    }
  }

  test("dirfile discovery over Corpus.read: the byte-sized scan still reads only path") {
    // Corpus.read coalesces its binaryFile scan by bytes; column pruning
    // must reach the scan through the coalesce, so phase 1 never loads
    // a file's content
    val probe = mr.ParentStacks.discoveryPlan(
      sources.Corpus.read(spark, "src/test/resources/refFixtures"),
      sources.PathGlob("**/*.json"))
    val p = probe.queryExecution.executedPlan.toString
    val readSchema = "ReadSchema: [^\\n]*".r.findFirstIn(p).getOrElse("")
    assert(p.contains("Coalesce"), p.take(2000))
    assert(readSchema.contains("path") && !readSchema.contains("content"),
      "discovery scan must not read content\n" + p.take(2000))
  }

  test("mt01: GEMM contraction is an equi-join; argmax is the k-bounded TopK, not a window sort") {
    val p = plan("mt01_sparse_matmul")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "the contraction must be an equi-join on the term key\n" + p.take(3000))
    assert(p.contains("TopK"),
      "per-doc argmax must run through the k-bounded TopK operator\n" + p.take(3000))
    // C's sums must combine map-side before the (doc, topic) exchange
    assert(p.contains("partial_sum") || p.contains("Partial"),
      "expected partial aggregation of the product cells\n" + p.take(3000))
  }

  test("qs01: sketch aggregates as a partial/final ObjectHashAggregate pair; scan pruned") {
    val p = plan("qs01_kll_quantiles")
    assert(p.contains("partial_kll_quantiles"),
      "sketch states must combine map-side before the exchange\n" + p.take(3000))
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate must plan as ObjectHashAggregate\n" + p.take(3000))
    // only the grouping keys + value column reach the scan
    assert(!p.contains("l_extendedprice"),
      "unused columns must be pruned from the lineitem scan\n" + p.take(3000))
  }

  test("mt02: B tiles broadcast, block contraction stays in-expression, partial sums before the vec exchange") {
    val p = plan("mt02_blocked_gemm")
    assert(p.contains("BroadcastHashJoin"),
      "the fixed-width tile join must broadcast\n" + p.take(3000))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p.take(3000))
    assert(p.contains("partial_sum"),
      "C partials must combine map-side before the vec_id exchange\n" + p.take(3000))
    // the contraction dimension must never appear as rows: the only
    // Generate is the 4-way k-block split, never a 64-way k explode
    assert(p.contains("posexplode"), p.take(3000))
  }

  test("ev18: windowed sketch aggregates partial-merge ObjectHashAggregate, like qs01") {
    val p = plan("ev18_window_quantiles")
    assert(p.contains("partial_kll_quantiles") && p.contains("ObjectHashAggregate"),
      "window sketch states must combine map-side before the exchange\n" + p.take(3000))
  }

  test("sy03: storage-partitioned join plans ZERO hash exchanges — co-partitioning from the connector") {
    val p = plan("sy03_storage_partitioned_join")
    assert(!p.contains("Exchange hashpartitioning"),
      "both aggs and the join must run on the reported KeyGroupedPartitioning\n" + p.take(3000))
    assert(p.contains("grp-keyed"),
      "expected the grp-keyed scan description\n" + p.take(3000))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      "the join must be a co-partitioned big-big join, not a broadcast\n" + p.take(3000))
  }

  test("mm08: the near-dup candidate join is a block-key equi-join, never a nested loop") {
    val p = plan("mm08_phash_neardup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "hamming candidates must come from the 16-char block equi-join\n" + p.take(3000))
  }

  test("ss01: candidate and verify joins are all equi-joins; filters fused into the candidate join") {
    val p = plan("ss01_setsim_join")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      "prefix filtering must never plan a nested-loop pair scan\n" + p.take(3000))
    // the PPJoin length/positional filters ride the join condition —
    // visible as a join-level predicate on the sz columns
    assert(p.contains("array_intersect"),
      "verification must be the per-row rank-array intersect\n" + p.take(3000))
  }

  test("q62: correlated scalar-AVG threshold decorrelates to one aggregate + equi-join (no per-row re-aggregation)") {
    val p = plan("q62_small_qty_revenue")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the l_quantity < 0.2*AVG(correlated) probe must decorrelate, " +
        "never plan a per-row nested-loop subquery\n" + p.take(3000))
    // the decorrelated AVG appears as a real grouped aggregate (over
    // l_partkey) joined back to the probe side
    assert("avg\\(".r.findFirstIn(p.toLowerCase).isDefined,
      "expected the decorrelated AVG aggregate in the physical plan\n" +
        p.take(3000))
  }

  test("q63: nested IN + two-key correlated aggregate plans as semi joins + one grouped aggregate") {
    val p = plan("q63_excess_ship_suppliers")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "Q20's shape must fully decorrelate — no per-row subplan\n" +
        p.take(3000))
    assert(p.contains("LeftSemi"),
      "both IN subqueries must plan as left-semi equi-joins\n" +
        p.take(3000))
    assert("avg\\(".r.findFirstIn(p.toLowerCase).isDefined,
      "expected the two-key decorrelated AVG aggregate in the plan\n" +
        p.take(3000))
  }

  test("q61: correlated scalar-MIN decorrelates to an aggregate + equi-join (no per-row subplan)") {
    val p = plan("q61_min_cost_supplier")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      "the correlated = (SELECT MIN..) probe must decorrelate, never " +
        "plan a nested-loop per-row subquery\n" + p.take(3000))
    // the decorrelated MIN appears as a real aggregate joined back on
    // the correlation key — two HashAggregates (partial+final) beyond
    // the supply build, and the probe join is hash- or sort-merge
    assert("min\\(".r.findFirstIn(p.toLowerCase).isDefined,
      "expected the decorrelated MIN aggregate in the physical plan\n" +
        p.take(3000))
  }
}
