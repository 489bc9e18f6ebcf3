package graft

import org.apache.spark.sql.functions._

import graft.functions.Aggregators
import graft.ingest.ProgressReporter
import graft.operators.SkewJoin

class OperatorsSpec extends SparkTestBase {

  test("Welford variance aggregator matches built-in var_samp/stddev") {
    import org.apache.spark.sql.functions.udaf
    val welford = udaf(Aggregators.WelfordVariance)
    val l = Tables(spark, sfDir, "lineitem")
    val got = l.agg(welford(col("l_extendedprice")).as("m")).select("m.*").collect().head
    val exp = l.agg(
      count(lit(1)), avg("l_extendedprice"), var_samp("l_extendedprice"), stddev("l_extendedprice"))
      .collect().head
    assert(got.getAs[Long]("n") == exp.getLong(0))
    assert(math.abs(got.getAs[Double]("mean") - exp.getDouble(1)) < 1e-6)
    assert(math.abs(got.getAs[Double]("variance") - exp.getDouble(2)) < 1e-3)
    assert(math.abs(got.getAs[Double]("stddev") - exp.getDouble(3)) < 1e-6)
  }

  test("bounded distinct aggregator is deterministic across partitionings") {
    import org.apache.spark.sql.functions.udaf
    val bd = udaf(new Aggregators.BoundedDistinct(5))
    def run(parts: Int) = Tables(spark, sfDir, "documents").repartition(parts)
      .groupBy("lang").agg(bd(col("source")).as("sample"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(run(2) == run(7))
  }

  test("salted join equals the plain join result") {
    val l = Tables(spark, sfDir, "lineitem").select("l_orderkey", "l_quantity")
    val o = Tables(spark, sfDir, "orders").select("o_orderkey", "o_orderpriority")
    val plain = l.join(o, l("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(_.toSeq).toSet
    val salted = SkewJoin.saltedJoin(l, o, "l_orderkey", "o_orderkey", saltFactor = 4)
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("q"))
      .collect().map(_.toSeq).toSet
    assert(salted == plain)
  }

  test("AQE splits a skewed sort-merge join partition at runtime (skew=true)") {
    val s = spark
    import s.implicits._
    // one dominant key so one shuffle partition dwarfs the median; thresholds
    // lowered so local-scale data triggers the same runtime re-plan a hot key
    // at 100 TB would
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val big = s.range(0, 200000)
        .select(when(col("id") % 10 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          concat(lit("x"), col("id")).as("payload"))
      val small = s.range(0, 2000).select(col("id").as("k2"), (col("id") * 2).as("v"))
      // collect() the join itself: a separate count() would run a different
      // query execution (leaving this plan un-finalized), and a same-key
      // aggregation downstream would make AQE SKIP the skew split to
      // preserve the join's output partitioning
      val joined = big.join(small, col("k") === col("k2"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
      assert(plan.contains("skew=true"),
        s"AQE must annotate and split the skewed join partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    val s = spark
    import org.apache.spark.sql.functions._
    // Spark's InjectRuntimeFilter builds a bloom filter from the selective
    // (dimension) side of a shuffle join and pushes a might_contain()
    // predicate into the fact scan — the runtime analogue of a semi-join
    // reduction, and at 100 TB the difference between shuffling the whole
    // fact table and shuffling the matching slice. Thresholds are sized for
    // 10 GB scans; lower them so local-scale data exercises the same rule.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1", // force a shuffle join
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "1KB")
    val saved = confs.keys.map(k => k -> s.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val l = Tables(s, sfDir, "lineitem")
      val o = Tables(s, sfDir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      val joined = l.join(o, l("l_orderkey") === o("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      val optimized = joined.queryExecution.optimizedPlan.toString
      assert(optimized.toLowerCase.contains("bloom") || optimized.contains("might_contain"),
        s"expected an injected runtime bloom filter in:\n$optimized")
      // and the filtered result still equals the un-filtered join
      val n = joined.collect().map(r => r.getLong(1)).sum
      val expected = l.join(o, l("l_orderkey") === o("o_orderkey")).count()
      assert(n == expected, "bloom filter must not change results")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  test("int8 quantization keeps dequantized cosine within 1% of exact") {
    import graft.functions.Quantize
    import graft.queries.Similarity
    val e = Tables(spark, sfDir, "embeddings").limit(200)
    val q = Quantize.withQuantized(e)
    val scored = q.select(
      Similarity.cosine(col("embedding"), col("embedding")).as("exact_self"),
      Similarity.dot(Quantize.dequantize(col("q_vec"), col("q_scale")),
        Similarity.toDouble(col("embedding"))).as("dq_dot"),
      Similarity.dot(Similarity.toDouble(col("embedding")), Similarity.toDouble(col("embedding"))).as("ex_dot"))
      .collect()
    scored.foreach { r =>
      assert(math.abs(r.getAs[Double]("exact_self") - 1.0) < 1e-9)
      val rel = math.abs(r.getAs[Double]("dq_dot") - r.getAs[Double]("ex_dot")) /
        math.max(r.getAs[Double]("ex_dot"), 1e-9)
      assert(rel < 0.01, s"dequantized dot off by $rel")
    }
    // storage check: quantized column is tinyint
    assert(q.schema("q_vec").dataType.simpleString == "array<tinyint>")
  }

  test("TopK.perKey equals the window row_number idiom, any partitioning, any k") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    def events(s: org.apache.spark.sql.SparkSession) = Tables(s, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"), col("value"))
    val e = events(spark)
    val plain = events(idiomSession())
    for (k <- Seq(1, 3, 7); parts <- Seq(3, 16)) {
      val got = graft.plans.TopK
        .perKey(e.repartition(parts), Seq("user_id"), Seq("value" -> false, "event_id" -> true), k)
        .collect().map(_.toSeq).toSet
      val w = Window.partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      val idiom = plain.withColumn("rk", row_number().over(w)).filter(col("rk") <= k).drop("rk")
      assertWindowIdiom(idiom)
      val want = idiom.collect().map(_.toSeq).toSet
      assert(got == want, s"k=$k parts=$parts: custom operator diverged from window idiom")
    }
    // ascending order and k larger than any group: identity modulo per-key cap
    val all = graft.plans.TopK
      .perKey(e, Seq("user_id"), Seq("event_id" -> true), k = 1000000)
      .count()
    assert(all == e.count(), "k >= group size must keep every row")
  }

  test("misra-gries sketch: exact regime matches a full groupBy across partitionings") {
    val d = Tables(spark, sfDir, "documents")
    val toks = d.select(col("lang"),
      explode(graft.queries.TextOps.wsTokens(
        graft.queries.TextOps.normText(col("text")))).as("token"))
    val exact = toks.groupBy("lang", "token").count()
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    for (parts <- Seq(1, 3, 8)) {
      val got = toks.repartition(parts)
        .groupBy("lang").agg(call_function("mg_topk", col("token"), lit(64)).as("hh"))
        .select(col("lang"), explode(col("hh")).as("e"))
        .select(col("lang"), col("e.token"), col("e.est"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
      assert(got == exact, s"parts=$parts: k above the vocab must be exact")
    }
  }

  test("misra-gries sketch: lossy regime keeps heavy items with bounded undercount") {
    val s = spark
    import s.implicits._
    // skewed stream: "hot" appears 400 of n=490 times; 30 cold items x3 each
    val rows = Seq.fill(400)("hot") ++ (1 to 30).flatMap(i => Seq.fill(3)(s"cold$i"))
    val n = rows.size
    val k = 4
    val df = rows.toDF("token").repartition(7)
    val got = df.agg(call_function("mg_topk", col("token"), lit(k)).as("hh"))
      .select(explode(col("hh")).as("e")).select(col("e.token"), col("e.est"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.size <= k, "summary may never exceed k entries")
    // frequency guarantee: any item with count > n/(k+1) must survive
    assert(got.contains("hot"), s"heavy item dropped: $got")
    // estimates never overcount, and undercount at most n/(k+1)
    assert(got("hot") <= 400L)
    assert(got("hot") >= 400L - n / (k + 1), s"undercount bound violated: $got")
  }

  test("q55 MMR: dense ranks, distinct picks, relevance-first, score dominated by pick 1") {
    val mmr = graft.queries.Similarity.q55MmrRerank(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val brute1 = graft.queries.Similarity.q50KnnBrute(spark, sfDir)
      .filter(col("rk") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    mmr.groupBy(_._1).foreach { case (q, rows) =>
      assert(rows.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L), s"query $q dense sel_rk")
      assert(rows.map(_._3).distinct.length == 4, s"query $q picks must be distinct")
      val first = rows.find(_._2 == 1L).get
      // step 1 is pure relevance, so it must equal brute-force rank 1
      assert(first._3 == brute1(q), s"query $q first pick must be the top neighbor")
      // score_i = 0.7*rel - 0.3*max_sim <= rel <= rel_1 = score_1
      assert(rows.forall(_._4 <= first._4 + 1e-9), s"query $q score 1 must dominate")
    }
  }

  test("q55 MMR releases every block it persists: no net cached RDDs per call") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = graft.queries.Similarity.q55MmrRerank(spark, sfDir)
    assert(out.count() == 40L, "10 queries x 4 picks expected")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"q55 left persisted RDDs behind: ${leaked.toSeq.sorted.mkString(", ")}")
  }

  test("bench count path equals verify dump path row-for-row on drift-prone queries") {
    // Bench counts fn(...).count(); Verify materializes fn(...) to parquet.
    // A count-only plan may prune work a full materialization runs, so a
    // nondeterministic stage could diverge the two harnesses silently —
    // this pins the drift-prone shapes: store-backed candidates, driver-
    // side loops, hash sampling, derived-column TPC-H, cross-corpus
    // linkage, a streaming replay.
    val probe = Seq("q40_dedup_minhash_lsh", "q55_mmr_rerank", "q57_temperature_sample",
      "q105_group_sample", "q124_tpch_q7", "q161_record_linkage", "q89_stream_replay")
    val tmp = java.nio.file.Files.createTempDirectory("graft_drift").toString
    probe.foreach { name =>
      val fn = SparkEntry.queries(name)
      val counted = fn(spark, sfDir).count()
      fn(spark, sfDir).write.mode("overwrite").parquet(s"$tmp/$name")
      val dumped = spark.read.parquet(s"$tmp/$name").count()
      assert(counted == dumped,
        s"$name: bench count path ($counted) != verify dump path ($dumped)")
    }
  }

  test("q124 TPC-H Q7 runs as one plan: no net persisted RDDs per call") {
    // the round-6 regression was a .persist() on the tiny (supp, cust,
    // year) aggregate that split the job in three AND leaked into the
    // session cache on every call; the window rewrite must leave nothing
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = graft.queries.TpchStyle.q124TpchQ7(spark, sfDir)
    assert(out.count() > 0L, "q124 must be non-empty at every fixture scale")
    val leaked = sc.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty,
      s"q124 left persisted RDDs behind: ${leaked.toSeq.sorted.mkString(", ")}")
  }

  test("TopK.perKey with maxKeys far below distinct keys spills and matches the window idiom") {
    import org.apache.spark.sql.expressions.Window
    // ~5000 distinct keys against a 64-key in-memory cap: every partition
    // is forced through many spill passes and must still emit exactly the
    // window idiom's rows
    def events(s: org.apache.spark.sql.SparkSession) = Tables(s, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("value"))
      .withColumn("k", col("event_id") % 5000)
    val got = graft.plans.TopK
      .perKey(events(spark).repartition(3), Seq("k"), Seq("value" -> false, "event_id" -> true),
        k = 2, maxKeys = 64)
      .collect().map(_.toSeq).toSet
    val w = Window.partitionBy(col("k")).orderBy(col("value").desc, col("event_id"))
    val idiom = events(idiomSession())
      .withColumn("rk", row_number().over(w)).filter(col("rk") <= 2).drop("rk")
    assertWindowIdiom(idiom)
    val want = idiom.collect().map(_.toSeq).toSet
    assert(got == want, "spill path diverged from the window idiom")
  }

  test("q48 chunk geometry tiles every document: stride layout and full coverage") {
    val chunks = graft.queries.TrainPrep.q48Chunking(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val nToks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(graft.queries.TextOps.wsTokens(
        graft.queries.TextOps.normText(col("text")))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val byDoc = chunks.groupBy(_._1)
    assert(byDoc.keySet == nToks.filter(_._2 > 0).keySet)
    val W = graft.queries.TrainPrep.ChunkW
    val St = graft.queries.TrainPrep.ChunkStride
    byDoc.foreach { case (doc, cs) =>
      val sorted = cs.sortBy(_._2)
      // indices are 0..m-1 dense; every chunk is full-width except possibly
      // the trailing ones; the last chunk reaches exactly the doc end
      assert(sorted.map(_._2) == (0L until sorted.size.toLong))
      sorted.foreach { case (_, idx, len) =>
        assert(len == math.min(W.toLong, nToks(doc) - idx * St), s"doc $doc idx $idx")
      }
      val (_, lastIdx, lastLen) = sorted.last
      assert(lastIdx * St + lastLen == nToks(doc), s"doc $doc does not cover its tail")
    }
  }

  test("q49 packs are contiguous id-ranges per lang and conserve token counts") {
    val packs = graft.queries.TrainPrep.q49SequencePacking(spark, sfDir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    val totalToks = Tables(spark, sfDir, "documents")
      .select(graft.queries.TextOps.regexTokenCount(col("text")).cast("long").as("n"))
      .agg(sum("n")).collect().head.getLong(0)
    assert(packs.map(_._4).sum == totalToks, "packing must conserve every token")
    packs.groupBy(_._1).foreach { case (lang, ps) =>
      val sorted = ps.sortBy(_._2).toList
      // pack ids ascend and doc ranges are disjoint and ordered: greedy
      // contiguous fill never interleaves documents between packs
      sorted.sliding(2).foreach {
        case Seq((_, p1, _, _, _, hi1), (_, p2, _, _, lo2, _)) =>
          assert(p1 < p2, s"$lang pack ids must ascend")
          assert(hi1 < lo2, s"$lang doc ranges must be disjoint ordered")
        case _ => ()
      }
    }
  }

  test("q47 boilerplate accounting is internally consistent per document") {
    val rows = graft.queries.TrainPrep.q47BoilerplateSpans(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val nToks = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), size(graft.queries.TextOps.wsTokens(
        graft.queries.TextOps.normText(col("text")))).cast("long").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(rows.map(_._1).toSet == nToks.keySet, "every document gets a row")
    rows.foreach { case (doc, nSpans, nBoiler, kept) =>
      assert(nSpans == nToks(doc) / graft.queries.TrainPrep.SpanW, s"doc $doc span count")
      assert(nBoiler >= 0 && nBoiler <= nSpans, s"doc $doc boiler bounds")
      assert(kept == nToks(doc) - graft.queries.TrainPrep.SpanW * nBoiler, s"doc $doc token accounting")
    }
    // the fixture has cross-doc repeated spans — the operator must fire
    assert(rows.map(_._3).sum > 0, "expected at least one boilerplate span in the corpus")
  }

  test("progress reporter aggregates task input metrics (P17)") {
    val rep = new ProgressReporter(progressIntervalMillis = 0, onReport = _ => ())
    val detach = rep.attach(spark)
    try {
      Tables(spark, sfDir, "lineitem").agg(sum("l_quantity")).collect()
      // listener events are delivered asynchronously — poll briefly
      val deadline = System.currentTimeMillis() + 10000
      while (rep.snapshot.recordsRead < 6000 && System.currentTimeMillis() < deadline)
        Thread.sleep(50)
      val s = rep.snapshot
      assert(s.tasksCompleted > 0)
      assert(s.recordsRead >= 6000, s"expected the lineitem rows to be counted: $s")
    } finally detach()
  }

  test("q132 BPE learns the hand-derivable merge sequence on a constructed corpus") {
    val s = spark
    import s.implicits._
    // abcd appears 8x, xy 6x (both clear the freq>=5 bar). Distinct letters
    // make every merge unambiguous: (a,b) wins round 1 on the (a,b)/(b,c)/
    // (c,d) tie by pair text, then (ab,c) by 'ab' < 'c', then (abc,d) —
    // xy's 6 never reaches the top
    val docs = Seq(
      (1L, "abcd abcd abcd abcd xy xy xy"),
      (2L, "abcd abcd abcd abcd xy xy xy")).toDF("doc_id", "text")
    val got = graft.queries.TextOps.bpeMerges(docs)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 8L), (2, "ab", "c", 8L), (3, "abc", "d", 8L)),
      s"unexpected merge sequence: ${got.toSeq}")
    // consecutive occurrences of the winning pair must merge COMPLETELY
    // (the fixpoint-replace property): "ababab" has (a,b) 3x per word and
    // all three merge in round 1, leaving (ab,ab) as round 2's winner
    val docs2 = Seq((1L, Seq.fill(7)("ababab").mkString(" "))).toDF("doc_id", "text")
    val got2 = graft.queries.TextOps.bpeMerges(docs2)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got2.toSeq == Seq((1, "a", "b", 21L), (2, "ab", "ab", 14L), (3, "abab", "ab", 7L)),
      s"consecutive pairs must merge to fixpoint: ${got2.toSeq}")
  }

  test("q142 BPE encode yields hand-derivable token counts on a constructed corpus") {
    val s = spark
    import s.implicits._
    // same corpus as the q132 spec: merges are (a,b), (ab,c), (abc,d), so
    // "abcd" encodes to ONE token and "xy" stays two ("x y" never merges).
    // Per lang: 4 abcd + 3 xy = 7 words, 4*4+3*2 = 22 chars,
    // 4*1+3*2 = 10 tokens, 10*10000 div 22 = 4545 bp
    val docs = Seq(
      (1L, "en", "abcd abcd abcd abcd xy xy xy"),
      (2L, "fr", "abcd abcd abcd abcd xy xy xy")).toDF("doc_id", "lang", "text")
    val got = graft.queries.TextOps.bpeEncode(docs)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(got.toSeq == Seq(
      ("en", 7L, 22L, 10L, 4545L), ("fr", 7L, 22L, 10L, 4545L)),
      s"unexpected encode stats: ${got.toSeq}")
  }

  test("q144 priority sample: tau bounds, HT weights, and the below-k degenerate case") {
    val rows = graft.queries.Curation.q144PrioritySample(spark, sfDir).collect()
    assert(rows.length == 10)
    val tau = rows.head.getAs[Double]("tau")
    rows.foreach { r =>
      assert(r.getAs[Double]("priority") >= tau,
        "every sampled priority must be at or above the (k+1)-th")
      assert(r.getAs[Double]("w_hat") >= r.getAs[Long]("w").toDouble,
        "the Horvitz-Thompson estimate max(w, tau) can never shrink a weight")
    }
    // below k+1 docs: every item is sampled with probability 1, so tau = 0
    // and the weight estimates are the exact weights
    val tmp = java.nio.file.Files.createTempDirectory("graft-psample").toString
    spark.range(4).select(
        col("id").as("doc_id"), lit("en").as("lang"), lit("s").as("source"),
        concat_ws(" ", lit("alpha"), col("id").cast("string")).as("text"))
      .write.parquet(s"$tmp/documents.parquet")
    val small = graft.queries.Curation.q144PrioritySample(spark, tmp).collect()
    assert(small.length == 4)
    small.foreach { r =>
      assert(r.getAs[Double]("tau") == 0.0)
      assert(r.getAs[Double]("w_hat") == r.getAs[Long]("w").toDouble)
    }
  }

  test("q145 IVM: the incremental path equals a full Spark-side recompute of the merged snapshot") {
    val d = Tables(spark, sfDir, "documents")
    val snap = d.filter(pmod(col("doc_id"), lit(3)) =!= 0)
      .select(col("doc_id"), col("lang"), col("text"))
    val ch = d.filter(pmod(col("doc_id"), lit(4)) === 0 || pmod(col("doc_id"), lit(7)) === 0)
      .select(col("doc_id"), col("lang").as("ch_lang"),
        when(pmod(col("doc_id"), lit(7)) === 0, lit("delete")).otherwise(lit("upsert")).as("op"),
        concat(col("text"), lit(" v2")).as("new_text"))
    val recompute = snap.join(ch, Seq("doc_id"), "full_outer")
      .filter(col("op").isNull || col("op") === "upsert")
      .select(coalesce(col("ch_lang"), col("lang")).as("lang"),
        length(coalesce(col("new_text"), col("text"))).cast("long").as("len"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("len")).as("n_chars"))
      .orderBy(col("lang")).collect().map(_.toSeq)
    val incremental = graft.queries.IngestOps.q145IncrementalAgg(spark, sfDir)
      .collect().map(_.toSeq)
    assert(incremental.toSeq == recompute.toSeq,
      "old agg + delta(changes) must equal recompute(merged snapshot)")
  }

  test("q150 k-core peels a closed-form graph and the fixture converges inside PeelRounds") {
    val s = spark
    import s.implicits._
    // triangle {1,2,3} + tail 3-4-5: the 2-core is exactly the triangle;
    // 5 (deg 1) peels in round 1, then 4 (deg 2 -> 1) peels in round 2
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("id_a", "id_b")
    val rows = graft.queries.GraphOps.kcoreStats(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.toSeq == Seq(
      (1L, 2L, 2L, 1L), (2L, 2L, 2L, 1L), (3L, 3L, 2L, 1L),
      (4L, 2L, 0L, 0L), (5L, 1L, 0L, 0L)),
      s"unexpected 2-core: ${rows.toSeq}")
    // fixture convergence: one extra round changes nothing, so the
    // 3-round row IS the fixpoint 2-core on this data
    val e = graft.queries.Dedup.minhashCandidates(spark, sfDir)
      .filter(col("est_jaccard") >= 0.5)
    val r3 = graft.queries.GraphOps.kcoreStats(e).collect().map(_.toSeq)
    val r4 = graft.queries.GraphOps.kcoreStats(e, rounds = 4).collect().map(_.toSeq)
    assert(r3.toSeq == r4.toSeq, "the fixture peel must converge inside PeelRounds")
  }

  test("q130 substring dedup finds a planted shared span, exact length, and nothing else") {
    val s = spark
    import s.implicits._
    // 30-token span planted inside two otherwise-disjoint documents at
    // DIFFERENT offsets; doc 3 shares nothing ≥ Q130MinSpan with anyone
    val span = (1 to 30).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"${(1 to 12).map(i => s"pre$i").mkString(" ")} $span tail1 tail2"),
      (3L, (1 to 40).map(i => s"solo$i").mkString(" "))
    ).toDF("doc_id", "text")
    val got = graft.queries.Dedup.substringSpans(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq((1L, 2L, 30L, 1L)),
      s"expected exactly the planted (1,2) pair with a 30-token maximal span: ${got.toSeq}")
    // shifting one interior token breaks the span into two halves — the
    // extension must NOT bridge a mismatch
    val broken = span.split(" ").updated(14, "mutant").mkString(" ")
    val docs2 = Seq(
      (1L, s"alpha beta gamma $span delta epsilon"),
      (2L, s"prefix $broken suffix")).toDF("doc_id", "text")
    val got2 = graft.queries.Dedup.substringSpans(docs2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // halves are 14 and 15 tokens: max span 15, and both clear the ≥10 bar
    assert(got2.toSeq == Seq((1L, 2L, 15L, 2L)),
      s"a single mutated token must split the span into its two halves: ${got2.toSeq}")
  }
}
