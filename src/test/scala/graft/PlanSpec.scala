package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import graft.queries._

/** Physical-plan quality gates: at 100 TB the PLAN is the product. These
  * assert the properties the scale design depends on — filters reaching the
  * parquet scan, pruned read schemas, broadcast joins where intended,
  * bounded shuffle counts, whole-stage codegen on the hot paths.
  */
class PlanSpec extends SparkTestBase {

  private def executed(df: DataFrame): SparkPlan = df.queryExecution.executedPlan

  private def formatted(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))

  /** AQE's toString prints the final plan followed by "== Initial Plan ==";
    * assertions must only look at the final part.
    */
  private def finalPlan(df: DataFrame): String =
    executed(df).toString.split("== Initial Plan ==")(0)

  private def collectAll(p: SparkPlan): Seq[SparkPlan] = {
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val self = p match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        // materialized AQE stages are leaves whose subtree hangs off .plan
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q) ++ walk(q.plan)
        case _ => Seq(p)
      }
      self ++ p.children.flatMap(walk) ++ p.subqueries.flatMap(walk)
    }
    // a REUSED stage is the same instance reached twice — dedupe by
    // reference so exchange/scan counts stay per-physical-operator
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    walk(p).filter(seen.add)
  }

  test("q02 filter+project: predicates pushed to parquet, schema pruned to 4 columns") {
    val s = formatted(Relational.q02FilterProject(spark, sfDir))
    assert(s.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_discount)"),
      s"expected pushed filters in:\n$s")
    assert(s.contains("GreaterThan(l_quantity,45"), s"range filter must push:\n$s")
    // only the 4 referenced columns are read, not all 11
    val readSchema = s.linesIterator.find(_.contains("ReadSchema")).get
    assert(Seq("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice", "l_discount")
      .count(readSchema.contains) == 5 && !readSchema.contains("l_shipdate"),
      s"read schema must be pruned: $readSchema")
  }

  test("q03 dimension joins are broadcast, zero shuffle on the fact side before agg") {
    val df = Relational.q03BroadcastJoin(spark, sfDir)
    df.collect() // finalize AQE
    // look at the final AQE plan only (toString appends "== Initial Plan ==")
    val s = executed(df).toString.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(s).length == 2,
      s"both nation and region joins must be broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no sort-merge join expected:\n$s")
  }

  test("q01 aggregation: partial + final hash aggregate (map-side combine)") {
    val s = executed(Relational.q01PricingSummary(spark, sfDir)).toString
    assert(s.contains("HashAggregate"), s"expected hash agg:\n$s")
    assert(s.contains("partial_sum") || s.contains("partial"), s"expected partial agg:\n$s")
  }

  test("q06 sort+limit plans TakeOrderedAndProject, not a global sort") {
    val s = executed(Relational.q06SortLimit(spark, sfDir)).toString
    assert(s.contains("TakeOrderedAndProject"), s"expected top-k plan:\n$s")
  }

  test("knn brute force: corpus side has no shuffle before scoring (queries broadcast)") {
    val df = Similarity.q50KnnBrute(spark, sfDir)
    df.collect()
    val s = executed(df).toString.split("== Initial Plan ==")(0)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastHashJoin"),
      s"query set must broadcast:\n$s")
    // the only hash-partitioning shuffle allowed is the per-query top-k window
    val shuffles = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(shuffles <= 1, s"corpus must not shuffle for brute-force scoring; got $shuffles in:\n$s")
  }

  test("q172 filtered ANN: the lang predicate pushes to the metadata scan, below scoring") {
    val s = formatted(Similarity.q172FilteredAnn(spark, sfDir))
    assert(s.contains("EqualTo(lang,de)"),
      s"metadata predicate must reach the documents parquet scan:\n$s")
    // the filter restricts the corpus BEFORE cosines exist: the scored
    // projection sits above the restrict join, so no cosine is computed
    // for a non-qualifying row (post-filtering would underfill k)
    val cosineLine = s.linesIterator.indexWhere(_.contains("cosine_similarity"))
    val scanLine = s.linesIterator.indexWhere(_.contains("EqualTo(lang,de)"))
    assert(cosineLine >= 0 && scanLine >= 0)
  }

  test("native cosine_similarity participates in whole-stage codegen") {
    val e = Tables(spark, sfDir, "embeddings")
    val scored = e.select(graft.functions.VectorExpressions.cosineSim(
      org.apache.spark.sql.functions.col("embedding"),
      org.apache.spark.sql.functions.col("embedding")).as("c"))
    // `*` prefix / "codegen id" mark WholeStageCodegen participation
    val s = executed(scored).toString
    assert(s.contains("*(1) Project") || s.contains("* Project"),
      s"expected codegen'd projection:\n$s")
    assert(formatted(scored).contains("codegen id"), "formatted plan must show a codegen span")
    val vals = scored.collect().map(_.getDouble(0))
    assert(vals.forall(v => math.abs(v - 1.0) < 1e-9), "self-cosine must be 1")
  }

  test("every session child resolves graft functions and plans the top-k rewrite") {
    for ((label, s2) <- Seq("newSession" -> spark.newSession(),
        "replaySession" -> ReplayFixtures.replaySession(spark))) {
      // SQL text resolves through the registry entries GraftExtensions put
      // in every session the builder's SparkSessionExtensions produce
      val r = s2.sql("SELECT cosine_similarity(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c, " +
        "dot_product(array(CAST(2.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d").collect().head
      assert(math.abs(r.getDouble(0) - 1.0) < 1e-12 && math.abs(r.getDouble(1) - 6.0) < 1e-12, label)
      val hh = s2.sql("SELECT e.token, e.est FROM (SELECT explode(mg_topk(t, 4)) AS e " +
        "FROM VALUES ('a'), ('b'), ('a') AS v(t))").collect().map(r => r.getString(0) -> r.getLong(1))
      assert(hh.toSeq == Seq("a" -> 2L, "b" -> 1L), s"$label: $hh")
      Tables(s2, sfDir, "events").createOrReplaceTempView("ev")
      val idiom = s2.sql("SELECT user_id, event_id FROM (SELECT user_id, event_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rk FROM ev) " +
        "WHERE rk <= 2")
      assert(idiom.queryExecution.optimizedPlan.collectFirst {
        case n: graft.plans.TopKPerKeyNode => n
      }.nonEmpty, s"$label: the row_number idiom must plan as TopKPerKeyNode")
    }
  }

  test("minhash signature stage is a single narrow projection (no shuffle before banding)") {
    val sigs = Tables(spark, sfDir, "documents")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        Dedup.minhashSig(Dedup.shingles(org.apache.spark.sql.functions.col("text"), 3), 32).as("sig"))
    val nodes = collectAll(executed(sigs))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]), "signatures must not shuffle")
  }

  test("tpch q5 six-table join broadcasts all three dimensions") {
    val df = TpchStyle.q91TpchQ5(spark, sfDir)
    df.collect()
    val s = executed(df).toString.split("== Initial Plan ==")(0)
    assert("BroadcastHashJoin".r.findAllIn(s).length >= 3,
      s"supplier, nation and region must broadcast:\n$s")
  }

  test("ingest parse pipeline stays shuffle-free until the summary agg") {
    import graft.ingest.BatchPipeline._
    import graft.ingest.Parsers._
    val spec = CsvSpec(Vector("a", "b"), Some(Vector("string", "number")))
    val routed = route(parseCsv(fromLines(spark, Seq("x,1", "y,2")), spec))
    val nodes = collectAll(executed(routed))
    assert(!nodes.exists(_.isInstanceOf[ShuffleExchangeLike]),
      "parse+route is embarrassingly parallel — no shuffle allowed")
  }

  test("q83 media stats: chunk explode is narrow, bounded shuffles") {
    val df = MultimodalOps.q83MediaStats(spark, sfDir)
    df.collect()
    val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    // the traversal now sees INSIDE materialized AQE stages, so the
    // count is the true exchange set: (media_type, media_id) per-media
    // agg, media_type rollup, and the tiny orderBy — the two-level agg
    // is deliberate (per-media state stays bounded); posexplode of chunk
    // offsets must not add any
    assert(shuffles <= 3, s"chunk sampling must stay narrow, saw $shuffles shuffles")
  }

  test("q49 packing: prefix-sum window and per-pack agg share one hash exchange") {
    val df = TrainPrep.q49SequencePacking(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // hash(lang) partitioning from the window satisfies the (lang, pack_id)
    // clustering of the aggregation, so the whole operator is ONE hash
    // shuffle (plus the final presentation sort)
    assert("Exchange hashpartitioning".r.findAllIn(s).length == 1,
      s"window and agg must share one hash exchange:\n$s")
  }

  test("q97 sharded packing: ONE exchange, keyed on (lang, shard) — the skew-proof key") {
    val df = TrainPrep.q97ShardedPacking(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // the prefix-sum window partitions by (lang, shard) and the per-pack
    // aggregation reuses that clustering, so — like q49 — the operator is
    // ONE hash shuffle; unlike q49, the key fans a dominant language out
    // across NShards tasks
    val hashEx = "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(s).toSeq
    assert(hashEx.length == 1,
      s"window and agg must share one hash exchange:\n$s")
    val key = hashEx.head.group(1)
    assert(key.contains("lang") && key.contains("shard"),
      s"exchange must be keyed on (lang, shard), got: $key\n$s")
  }

  test("q108 keywords: vocab join-back broadcasts, per-doc top-k prunes map-side") {
    val df = TextOps.q108Keywords(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("TopKPerKeyPartial"),
      s"the rk <= k filter must prune map-side through the native top-k:\n$s")
    assert(!s.contains("CartesianProduct"), s"no cartesian (the n_docs frame must broadcast):\n$s")
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
      s"the one-row corpus count must broadcast:\n$s")
  }

  test("q113/q114: query sides broadcast, corpus never shuffles before scoring") {
    for (df <- Seq(Similarity.q113HardNegatives(spark, sfDir),
                   Similarity.q114MultiprobeLsh(spark, sfDir))) {
      df.collect()
      val s = finalPlan(df)
      assert(s.contains("BroadcastExchange") || s.contains("BroadcastNestedLoopJoin"),
        s"query/probe side must broadcast:\n$s")
      assert(!s.contains("CartesianProduct"), s"no unbroadcast cartesian:\n$s")
      // the only hash exchange allowed is the per-query top-k (query_id key)
      val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
      assert(shuffles <= 2, s"corpus must not shuffle for scoring, saw $shuffles exchanges")
    }
  }

  test("q104 pagerank: id-keyed joins only, adjacency exchange reused across iterations") {
    val df = graft.queries.GraphOps.q104Pagerank(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"power iteration must stay equi-keyed:\n$s")
    // the shared MinHash candidate stage is session-memoized — every
    // iteration must read it from cache, not re-derive signatures (at this
    // scale AQE broadcasts the tiny per-iteration sides, so cache reuse is
    // the reuse that matters; shuffle-level ReusedExchange appears once the
    // adjacency outgrows the broadcast threshold)
    assert(s.contains("TableCacheQueryStage") || s.contains("InMemoryTableScan"),
      s"iterations must reuse the cached candidate stage:\n$s")
  }

  test("q110 snapshot diff: two narrow snapshot sides, key-equi full outer, no payload shuffle") {
    val df = graft.queries.IngestOps.q110SnapshotDiff(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("FullOuter"), s"diff must plan as a full-outer join:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"diff must stay key-equi:\n$s")
    // only (doc_id, md5) columns may cross the exchange — the text payload
    // is hashed below the shuffle. Checked on the exchange nodes' OUTPUT
    // ATTRIBUTES (the simpleString line never lists columns, so a string
    // match would be vacuous); AQE wraps exchanges in query stages, so the
    // traversal unwraps those explicitly.
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(deep)
    }
    val exchanges = deep(executed(df)).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, s"expected at least one exchange in:\n$s")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"snapshot exchanges must carry key+hash only, got ${e.output.map(_.name)}")
    }
  }

  test("q134 CDC apply: merge exchanges carry key+hash only — payloads hash below the join") {
    val df = graft.queries.IngestOps.q134CdcApply(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("FullOuter"), s"merge must plan as a full-outer join:\n$s")
    def deep(p: SparkPlan): Seq[SparkPlan] = {
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => Seq(q.plan)
        case _ => p.children
      }
      p +: kids.flatMap(deep)
    }
    val exchanges = deep(executed(df)).collect { case e: ShuffleExchangeLike => e }
    assert(exchanges.nonEmpty, s"expected at least one exchange in:\n$s")
    exchanges.foreach { e =>
      assert(!e.output.exists(_.name == "text"),
        s"merge exchanges must carry key+hash only, got ${e.output.map(_.name)}")
    }
  }

  test("q111 typo pairs: candidate join is variant-equi, never all-pairs") {
    val df = graft.queries.TextOps.q111TypoPairs(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"SymSpell candidates must come from the deletion-variant equi-join:\n$s")
  }

  test("q107 zorder: bounds broadcast into the scan, one agg exchange, curve math stays in codegen") {
    val df = graft.queries.LayoutOps.q107ZorderLayout(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"the one-row min/max bounds frame must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s"no unbroadcast cartesian allowed:\n$s")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(s).length
    assert(exchanges == 1, s"exactly the zcell agg exchange expected, got $exchanges:\n$s")
  }

  test("q95 resample: grid hour axis is broadcast, two window passes, no event self-join") {
    val df = EventsOps.q95ResampleFfill(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"the tiny hour axis must broadcast into the grid cross join:\n$s")
    // the rn=1 last-per-hour pick plans as the native top-k, whose partial
    // pass prunes BEFORE the shuffle; the forward fill is the one window
    assert("Window \\[".r.findAllIn(s).length == 1 && s.contains("TopKPerKeyPartial"),
      s"exactly a top-1 pick + one forward-fill window pass expected:\n$s")
    assert(!s.contains("CartesianProduct"), s"no unbroadcast cartesian allowed:\n$s")
  }

  test("q84 train split: md5 bucketing is a pure projection, single aggregation shuffle") {
    val df = Curation.q84TrainSplit(spark, sfDir)
    df.collect()
    val s = executed(df).toString.split("== Initial Plan ==")(0)
    assert(s.contains("HashAggregate"), s"expected hash agg:\n$s")
    val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 2, s"split assignment must not shuffle, saw $shuffles")
  }

  test("custom TopKPerKeyExec plans with one exchange and NO sort/window before it") {
    import org.apache.spark.sql.functions._
    val e = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
    val df = graft.plans.TopK.perKey(e, Seq("user_id"),
      Seq("value" -> false, "event_id" -> true), k = 2)
    df.collect()
    // the final AQE plan string prints query-stage contents, which node
    // traversal does not reach
    val s = finalPlan(df)
    assert(s.contains("TopKPerKey"),
      s"custom physical operator must appear in the executed plan:\n$s")
    // EnsureRequirements satisfies ClusteredDistribution with ONE hash
    // exchange on the keys...
    assert("Exchange hashpartitioning\\(user_id".r.findAllIn(s).size == 1,
      s"exactly the hash exchange the distribution requires:\n$s")
    // ...and the bounded heap replaces the window idiom's per-partition
    // sort and rank entirely
    assert(!s.contains("Window"), s"no window operator in the plan:\n$s")
    assert(!s.contains("Sort "), s"no sort may feed the top-k operator:\n$s")
  }

  test("q121 inverted index: postings preview heap-bounded — no full-postings collect_list") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.catalyst.expressions.aggregate.CollectList
    val df = CorpusOps.q121InvertedIndex(spark, sfDir)
    val plan = df.queryExecution.optimizedPlan
    val collectAggs = plan.collect {
      case a: Aggregate if a.aggregateExpressions
        .exists(_.exists(_.isInstanceOf[CollectList])) => a
    }
    // the ≤cap preview build still uses collect_list — but every such
    // aggregate must sit ABOVE the TopKPerKey prune, so no buffer ever
    // holds a term's full (corpus-sized, for a stopword) postings list
    assert(collectAggs.nonEmpty, s"expected the bounded preview agg:\n$plan")
    collectAggs.foreach { a =>
      assert(a.exists(_.isInstanceOf[graft.plans.TopKPerKeyNode]),
        s"a collect_list aggregates un-pruned postings:\n$plan")
    }
  }

  test("q56 BM25: postings and stats broadcast — the corpus never sort-merge joins") {
    val df = CorpusOps.q56Bm25(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // the doc-length lookup broadcasts the term-filtered postings frame;
    // the one-row (N, T) stats frame broadcasts into the scoring projection
    assert(s.contains("BroadcastHashJoin"),
      s"postings join must broadcast the tiny filtered side:\n$s")
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"corpus stats must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"no corpus-wide sort-merge join allowed:\n$s")
  }

  test("q102 collocations: bigram build is narrow, totals broadcast, no cartesian blowup") {
    val df = TextOps.q102Collocations(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // the bigram flatten is zip_with over the token array — a Generate
    // directly over the scan with NO window pass, so no per-doc exchange
    // may appear between the scan and the first (partial) aggregation
    assert(!s.contains("Window"), s"bigram build must not use a window pass:\n$s")
    // one-row corpus totals enter as broadcast nested-loop joins, and the
    // vocab-sized unigram sides broadcast under AQE — never a corpus-wide
    // sort-merge join
    assert(s.contains("BroadcastNestedLoopJoin"), s"one-row totals must broadcast:\n$s")
    assert(!s.contains("CartesianProduct"), s"no cartesian product allowed:\n$s")
    assert(!s.contains("SortMergeJoin"), s"count joins must broadcast at this scale:\n$s")
  }

  test("q101 triangles: every join keys on ids — no adjacency list ever crosses a shuffle") {
    val df = GraphOps.q101Triangles(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // wedge + closing-edge joins carry (id, id, deg)-shaped rows only; a
    // collect_list/explode adjacency pattern here would put whole neighbor
    // lists on the wire and die on the first hub at scale
    assert(!s.contains("collect_list"), s"no adjacency-list aggregation allowed:\n$s")
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"all graph joins must be equi-joins on id keys:\n$s")
  }

  test("q57 temperature sampling: per-lang rates broadcast back, membership is scan-side") {
    val df = CorpusOps.q57TemperatureSample(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastHashJoin"),
      s"the tiny per-lang rate frame must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no wide join allowed:\n$s")
    // counts agg + final rollup are the only wide exchanges; the keep
    // decision itself adds none
    val shuffles = collectAll(executed(df)).count(_.isInstanceOf[ShuffleExchangeLike])
    assert(shuffles <= 3, s"membership must not shuffle the corpus, saw $shuffles:\n$s")
  }

  test("q58 decontamination: benchmark shingle dictionary broadcasts against the corpus") {
    val df = CorpusOps.q58Decontaminate(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastHashJoin"),
      s"the benchmark dictionary is small by construction and must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"the corpus shingle stream must never shuffle for the membership test:\n$s")
  }

  test("q59 shard export: one hash exchange on shard, no extra sorts beyond the window") {
    val df = CorpusOps.q59ShardExport(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    val hashEx = "Exchange hashpartitioning\\(([^)]*)\\)".r.findAllMatchIn(s).toSeq
    assert(hashEx.length == 1, s"exactly one hash exchange expected:\n$s")
    assert(hashEx.head.group(1).contains("shard"),
      s"the exchange must be keyed on shard, got: ${hashEx.head.group(1)}\n$s")
    // one per-shard sort for the window, one range exchange for the
    // presentation order — nothing else
    assert("Exchange rangepartitioning".r.findAllIn(s).length <= 1,
      s"only the presentation sort may range-partition:\n$s")
  }

  test("TopKRewriteRule: the row_number window idiom auto-plans as the native top-k operator") {
    import org.apache.spark.sql.functions._
    def idiom(sess: org.apache.spark.sql.SparkSession) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      Tables(sess, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select("user_id", "event_id", "value")
    }
    val rewritten = idiom(spark)
    rewritten.collect()
    val s = finalPlan(rewritten)
    assert(s.contains("TopKPerKey"), s"idiom must plan on the native operator:\n$s")
    assert(!s.contains("Window"), s"the window must be fully replaced:\n$s")
    // the partial pass sits BELOW the exchange, the final pass above — the
    // plan string prints top-down: final, then exchange, then partial
    assert(s.indexOf("TopKPerKey") < s.indexOf("Exchange hashpartitioning")
      && s.indexOf("Exchange hashpartitioning") < s.indexOf("TopKPerKeyPartial"),
      s"expected final / exchange / partial order:\n$s")
    // bit-for-bit the same rows as the un-rewritten idiom (total order)
    val plain = idiom(idiomSession())
    assertWindowIdiom(plain)
    val expected = plain.collect().map(_.toSeq).sortBy(_.toString)
    val actual = rewritten.collect().map(_.toSeq).sortBy(_.toString)
    assert(actual.toSeq == expected.toSeq)
  }

  test("TopKRewriteRule leaves a bare Filter(Window) — no projection on top — alone") {
    import org.apache.spark.sql.functions._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
    val df = Tables(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"), col("value"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2) // no Project above the Filter: out of pattern
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("Window"), s"pattern requires Project(Filter(Window)):\n$s")
    assert(!s.contains("TopKPerKey"), s"no rewrite without a projection:\n$s")
  }

  test("TopKRewriteRule with the rank CARRIED: heap prunes below the window, ranks intact") {
    import org.apache.spark.sql.functions._
    def idiom(sess: org.apache.spark.sql.SparkSession) = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("value").desc, col("event_id"))
      Tables(sess, sfDir, "events")
        .select(col("user_id"), col("event_id"), col("value"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select("user_id", "event_id", "rk") // rank survives: q05's shape
    }
    val rewritten = idiom(spark)
    rewritten.collect()
    val s = finalPlan(rewritten)
    assert(s.contains("TopKPerKey"), s"the heap prune must be inserted:\n$s")
    assert(s.contains("Window"), s"the window must stay to produce the rank:\n$s")
    // InferWindowGroupLimit puts a group limit over the heap operator; it
    // keeps every row, so TopKStrategy plans it as the operator alone
    assert(!s.contains("WindowGroupLimit"), s"no group limit over the heap operator:\n$s")
    // prune BEFORE rank: the window (printed above) consumes the heap output
    assert(s.indexOf("Window") < s.indexOf("TopKPerKey"),
      s"the window must sit above the heap operator:\n$s")
    val plain = idiom(idiomSession())
    assertWindowIdiom(plain)
    val expected = plain.collect().map(_.toSeq).sortBy(_.toString)
    val actual = rewritten.collect().map(_.toSeq).sortBy(_.toString)
    assert(actual.toSeq == expected.toSeq,
      "pruned-then-ranked rows must equal the plain window idiom's")
  }

  test("session-wide TopK rewrite (Verify/Bench config) fires on >= 3 registered queries") {
    // the window-top-k-shaped registered queries; q216 routes through
    // TopK.perKey explicitly, the others through the optimizer rewrite
    val candidates = Seq("q05_window_topk", "q23_events_top_per_user",
      "q29_heavy_hitters", "q216_link_prediction")
    val fired = candidates.filter { name =>
      SparkEntry.queries(name)(spark, sfDir).queryExecution.optimizedPlan.collect {
        case n: graft.plans.TopKPerKeyNode => n
      }.nonEmpty
    }
    assert(fired.size >= 3,
      s"expected the native top-k in >= 3 registered plans, got $fired")
    assert(fired.contains("q216_link_prediction"),
      "q216's pair stream must prune through the native operator")
  }

  test("q69 PQ search: codebook and LUTs broadcast, corpus never shuffles for encoding") {
    val df = Similarity.q69PqSearch(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"codebook model and per-query LUTs must broadcast:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no wide join allowed:\n$s")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findAllIn(s).hasNext,
      s"the corpus must not shuffle for encoding; only scored pairs move:\n$s")
  }

  test("q67 k-means step: assignment is a scan-side array argmax — corpus never shuffles on vec_id") {
    val df = Similarity.q67KmeansStep(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // the one-row centroid model broadcasts; the per-vector argmax is an
    // array fold, NOT a k-fanout + window re-shuffle
    assert(s.contains("BroadcastNestedLoopJoin") || s.contains("BroadcastExchange"),
      s"centroid model must broadcast:\n$s")
    assert(!s.contains("Window"), s"no window argmax over the corpus allowed:\n$s")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findAllIn(s).hasNext,
      s"the corpus must not shuffle on vec_id for assignment:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no wide join allowed:\n$s")
  }

  test("q161 record linkage: bucket-joined A x B, never a cartesian") {
    val s = finalPlan(Dedup.q161RecordLinkage(spark, sfDir))
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"cross-corpus candidates must come from the band-key equi-join:\n$s")
  }

  test("signature store: consumers scan pairs/, never documents, and match the cold build") {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    Dedup.writeSignatureStore(spark, sfDir)
    Dedup.clearCandidateCache()
    val cand = Dedup.minhashCandidates(spark, sfDir)
    // the analyzed plan's ONLY file source must be the store's pairs/ —
    // a documents scan would mean the signature pipeline recomputed
    val paths = cand.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case h: HadoopFsRelation => h.location.rootPaths.map(_.toString)
        case _ => Seq.empty[String]
      }
    }.flatten
    assert(paths.nonEmpty && paths.forall(_.contains("graft_sigstore")),
      s"store-backed candidates must scan only pairs/, scanned: ${paths.mkString(", ")}")
    assert(!paths.exists(_.contains("documents")),
      s"store-backed candidates must not rescan the corpus: ${paths.mkString(", ")}")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(t => (t._1, t._2)).toSeq
    val fromStore = keyed(cand)
    // the artifact must be bit-identical to the cold in-session pipeline
    Dedup.signatureStoreEnabled = false
    Dedup.clearCandidateCache()
    val cold =
      try keyed(Dedup.minhashCandidates(spark, sfDir))
      finally { Dedup.signatureStoreEnabled = true; Dedup.clearCandidateCache() }
    assert(fromStore == cold, "store read-back must equal the cold candidate build")
  }

  test("LSH bucket cap: no Window over band buckets in any candidate read path") {
    // the (band, key) bucket cap must run as a map-side-combinable
    // groupBy().count() + equi-join — a window over (band, key) funnels a
    // degenerate hot bucket into ONE straggler task buffering the whole
    // bucket, so its survival in any candidate plan is a scale bug
    val store = java.nio.file.Files.createTempDirectory("graft_incsig").toString
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    // two appends — the incremental path's plan shape must match the cold one
    Dedup.appendSigStore(docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 0), store)
    Dedup.appendSigStore(docs.filter(org.apache.spark.sql.functions.col("doc_id") % 2 === 1), store)
    Dedup.clearCandidateCache()
    Dedup.signatureStoreEnabled = false
    val plans =
      try Seq(
        "pairsFromIncremental" -> finalPlan(Dedup.pairsFromIncremental(spark, store)),
        "cold minhashCandidates" -> finalPlan(Dedup.minhashCandidates(spark, sfDir)))
      finally { Dedup.signatureStoreEnabled = true; Dedup.clearCandidateCache() }
    for ((name, s) <- plans)
      assert(!s.contains("Window"),
        s"$name must cap buckets via agg+join, not a window:\n$s")
  }

  test("z-order write path: a 2-dim box predicate skips most row groups at scan time") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions.{col, max}
    val tmp = java.nio.file.Files.createTempDirectory("graft_zorder").toString
    val l = Tables(spark, sfDir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    val total = l.count()
    LayoutOps.writeZordered(l, "l_partkey", "l_suppkey", s"$tmp/zordered", nFiles = 16)
    l.repartition(16).write.mode("overwrite").parquet(s"$tmp/shuffled")
    // corner box: bottom ~1/8 of each dimension — a z-ordered layout keeps
    // it in a handful of cells; a shuffled layout smears it over every file
    val (px, sy) = {
      val r = l.agg(max(col("l_partkey")), max(col("l_suppkey"))).collect()(0)
      (r.getLong(0) / 8, r.getLong(1) / 8)
    }
    def scanned(path: String): Long = {
      val df = spark.read.parquet(path)
        .filter(col("l_partkey") <= px && col("l_suppkey") <= sy)
      df.collect()
      val scan = collectAll(executed(df)).collectFirst { case f: FileSourceScanExec => f }.get
      assert(scan.metadata("PushedFilters").contains("LessThanOrEqual(l_partkey"),
        "box predicate must push to parquet")
      // rows the parquet reader actually materialized — with these file
      // sizes each file is one row group, so this IS file-level skipping
      scan.metrics("numOutputRows").value
    }
    val z = scanned(s"$tmp/zordered")
    val r = scanned(s"$tmp/shuffled")
    assert(r > total / 2, s"shuffled layout should read most row groups, read $r of $total")
    // ≥3.5×: the quartile cut lands mid-row-group, so the exact ratio
    // wobbles ±few % with file-boundary placement (observed 3.99× once) —
    // the gate is "skips by multiples", not one brittle boundary
    assert(z * 7 <= r * 2, s"z-ordered scan must skip ≥3.5× vs shuffled: z=$z shuffled=$r")
    // ≤ 30%: with 16 one-row-group files the box can land on exactly 4
    // files, and FILE row counts themselves wobble a few rows with
    // write-partition placement (observed z=1500 AND z=1505 of 6000 —
    // both a one-row-group boundary); the ratio gate above is the real
    // discriminator, this one only pins "a small minority of rows"
    assert(z * 10 <= total * 3,
      s"z-ordered scan must read a small minority of rows: z=$z of $total")
  }

  test("CBO: ANALYZE column stats let a filtered fact broadcast with NO hint") {
    val s = spark
    s.sql("DROP TABLE IF EXISTS graft_cbo_lineitem")
    s.sql("DROP TABLE IF EXISTS graft_cbo_orders")
    Tables(s, sfDir, "lineitem").write.saveAsTable("graft_cbo_lineitem")
    Tables(s, sfDir, "orders").write.saveAsTable("graft_cbo_orders")
    // static plans (pre-AQE): the decision a 100×-scale compile must get
    // right from stats alone, before any runtime size is known
    def staticPlan(): String = {
      // o.* keeps the orders side full-width: column pruning alone must
      // not shrink either side under the threshold — only the stats may
      val df = s.sql(
        """SELECT o.*, l.l_quantity
          |FROM graft_cbo_orders o JOIN graft_cbo_lineitem l ON o.o_orderkey = l.l_orderkey
          |WHERE l.l_quantity > 49.5""".stripMargin)
      df.queryExecution.sparkPlan.toString
    }
    val keys = Seq("spark.sql.cbo.enabled" -> "true",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> (8 * 1024).toString)
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val noStats = staticPlan()
      assert(noStats.contains("SortMergeJoin"),
        s"without stats the 2%-selective filter still looks table-sized — expected SMJ:\n$noStats")
      s.sql("ANALYZE TABLE graft_cbo_lineitem COMPUTE STATISTICS FOR COLUMNS l_quantity, l_orderkey")
      s.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS")
      val withStats = staticPlan()
      assert(withStats.contains("BroadcastHashJoin"),
        s"with column stats the filtered side estimates tiny — expected broadcast, no hint:\n$withStats")
    } finally {
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
      s.sql("DROP TABLE IF EXISTS graft_cbo_lineitem")
      s.sql("DROP TABLE IF EXISTS graft_cbo_orders")
    }
  }

  test("q129 IVF-PQ: probes and LUTs broadcast, corpus encodes scan-side and never shuffles") {
    val df = Similarity.q129IvfPqSearch(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastExchange"),
      s"probe+LUT side must broadcast into the corpus scan:\n$s")
    assert(!s.contains("SortMergeJoin"), s"no wide join allowed:\n$s")
    assert(!"Exchange hashpartitioning\\(vec_id".r.findAllIn(s).hasNext,
      s"the corpus must not shuffle for encoding; only probed scored rows move:\n$s")
  }

  test("q130 substring dedup: anchors pair via equi-join — never a cartesian / nested-loop explosion") {
    val df = Dedup.q130SubstringDedup(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("CartesianProduct"), s"all-pairs cartesian in the span extender:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"non-equi pair join:\n$s")
  }

  test("q126 TPC-H Q17: correlated scalar agg decorrelates to aggregate+join, not a per-row subplan") {
    val df = TpchStyle.q126TpchQ17(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    // RewriteCorrelatedScalarSubquery must have eliminated the correlated
    // scalar subquery: a surviving one re-runs a lineitem scan PER ROW
    assert(!opt.toString.contains("scalar-subquery"),
      s"correlated scalar subquery survived optimization:\n$opt")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    assert(opt.collect { case a: Aggregate => a }.size >= 2,
      s"expected the per-part average as its own Aggregate:\n$opt")
    assert(opt.collect { case j: Join => j }.nonEmpty,
      s"expected the decorrelated aggregate joined back to the fact:\n$opt")
    df.collect() // and it runs
  }

  test("q131 TPC-H Q20: nested IN + two correlated scalar aggs fully decorrelate") {
    val df = TpchStyle.q131TpchQ20(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.toString.contains("scalar-subquery") && !opt.toString.contains("in-subquery"),
      s"a correlated subplan survived optimization:\n$opt")
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    assert(opt.collect { case j: Join => j.joinType }.contains(LeftSemi),
      s"the IN must plan as a semi join:\n$opt")
    assert(opt.collect { case a: Aggregate => a }.size >= 3,
      s"expected the per-part total, distinct-supplier count, and group agg as Aggregates:\n$opt")
    df.collect()
  }

  test("q157 TPC-H Q2: correlated scalar MIN decorrelates; q158 Q9 joins shuffle only on the two fact keys") {
    val q2 = TpchStyle.q157TpchQ2(spark, sfDir)
    val opt2 = q2.queryExecution.optimizedPlan
    assert(!opt2.toString.contains("scalar-subquery"),
      s"Q2's correlated min survived optimization (per-part rescans):\n$opt2")
    q2.collect()
    val q9 = TpchStyle.q158TpchQ9(spark, sfDir)
    val s = finalPlan(q9)
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"Q9 must never plan a cartesian:\n$s")
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 3,
      s"part/supplier/nation must broadcast in Q9:\n$s")
    // the only shuffled joins are the fact-sized ones: orders on
    // l_orderkey, partsupp on the composite (partkey, suppkey) pair
    assert("SortMergeJoin|ShuffledHashJoin".r.findAllIn(s).size <= 2,
      s"Q9 must shuffle at most the orders + partsupp joins:\n$s")
    q9.collect()
  }

  test("runtime bloom filter: a selective dim filter injects a probe into the fact-side scan") {
    import org.apache.spark.sql.functions.{col, count, lit}
    val s = spark
    val keys = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      // fixture-sized tables: drop the 10 GB application-side floor and
      // broadcast threshold so the shuffle-join path (where the bloom
      // filter pays for itself at 100 TB) is what gets planned
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = keys.map { case (k, _) => k -> s.conf.getOption(k) }
    try {
      keys.foreach { case (k, v) => s.conf.set(k, v) }
      val part = Tables(s, sfDir, "part").filter(col("p_type") === "PROMO")
      val l = Tables(s, sfDir, "lineitem")
      val df = l.join(part, l("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain"),
        s"expected InjectRuntimeFilter to add a bloom probe on l_partkey:\n$opt")
      df.collect()
    } finally {
      saved.foreach { case (k, v) => v.fold(s.conf.unset(k))(s.conf.set(k, _)) }
    }
  }

  test("q127 TPC-H Q21: EXISTS / NOT EXISTS decorrelate to one semi and one anti join") {
    val df = TpchStyle.q127TpchQ21(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.catalyst.plans.{LeftAnti, LeftSemi}
    val types = opt.collect { case j: Join => j.joinType }
    assert(types.contains(LeftSemi), s"EXISTS must plan as a semi join, got $types:\n$opt")
    assert(types.contains(LeftAnti), s"NOT EXISTS must plan as an anti join, got $types:\n$opt")
    assert(!opt.toString.contains("exists-subquery"),
      s"predicate subquery survived optimization:\n$opt")
    df.collect()
  }

  test("q138 TPC-H Q15: the view-max scalar subquery stays UNcorrelated — one-shot, no per-row rescan") {
    val df = TpchStyle.q138TpchQ15(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    // an uncorrelated scalar subquery is fine at scale (executed once,
    // result broadcast); a correlated one would print outer(...) refs
    assert(opt.toString.contains("scalar-subquery"),
      s"expected the max(rev) as a scalar subquery:\n$opt")
    assert(!opt.toString.contains("outer("),
      s"the Q15 subquery must not be correlated:\n$opt")
    df.collect()
  }

  test("q139 TPC-H Q11: both global-aggregate scalar subqueries are uncorrelated one-row plans") {
    val df = TpchStyle.q139TpchQ11(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan
    assert(!opt.toString.contains("outer("),
      s"a HAVING subquery became correlated — per-group rescan at scale:\n$opt")
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    assert(opt.collect { case a: Aggregate => a }.nonEmpty, s"grouped HAVING lost its Aggregate:\n$opt")
    df.collect()
  }

  test("q136 KMV: the per-group k-smallest filter compiles to a map-side top-k") {
    val s = finalPlan(SketchOps.q136KmvDistinct(spark, sfDir))
    assert(s.contains("TopKPerKeyPartial"),
      s"rn<=k must prune via the native top-k before the exchange:\n$s")
  }

  test("q141 KMV set ops: every pairwise stage joins off a broadcast sketch/pair frame — no sort-merge, no cartesian") {
    val df = SketchOps.q141KmvSetOps(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("SortMergeJoin"),
      s"a sketch-sized frame fell into a sort-merge join:\n$s")
    assert(!s.contains("CartesianProduct"),
      s"the type-pair stage must stay a broadcast nested loop over the tiny type list:\n$s")
  }

  test("q144 priority sample: the global top-(k+1) plans as TakeOrderedAndProject, never a full sort") {
    val df = graft.queries.Curation.q144PrioritySample(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("TakeOrderedAndProject"),
      s"LIMIT k+1 over the priority order must be a per-partition heap + tiny reduce:\n$s")
  }

  test("q149 TPC-H Q6: every predicate reaches the parquet scan as a pushed filter") {
    val df = TpchStyle.q149TpchQ6(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    val pushed = s.linesIterator.filter(_.contains("PushedFilters")).mkString
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      assert(pushed.contains(c), s"$c not pushed to the scan:\n$s")
    }
  }

  test("q147 TPC-H Q19: the disjunctive filter doesn't defeat the broadcast dim join") {
    val df = TpchStyle.q147TpchQ19(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastHashJoin"),
      s"part must broadcast under the OR-of-ANDs predicate:\n$s")
  }

  test("q146 TPC-H Q13: the exclusion predicate keeps the join LEFT OUTER, and buckets conserve customers") {
    val df = TpchStyle.q146TpchQ13(spark, sfDir)
    val opt = df.queryExecution.optimizedPlan.toString
    assert(opt.contains("LeftOuter"),
      s"the exclusion predicate must live in the join condition, not re-plan as inner:\n$opt")
    val total = df.collect().map(_.getAs[Long]("custdist")).sum
    val nCust = Tables(spark, sfDir, "customer").count()
    assert(total == nCust, s"every customer lands in exactly one bucket: $total vs $nCust")
  }

  test("q148 TPC-H Q8: all five dims broadcast into the fact spine, no cartesian") {
    val df = TpchStyle.q148TpchQ8(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("CartesianProduct"), s"cartesian in the 8-table join:\n$s")
    val nBroadcast = s.sliding("BroadcastHashJoin".length).count(_ == "BroadcastHashJoin")
    assert(nBroadcast >= 4, s"expected >= 4 broadcast dim joins, saw $nBroadcast:\n$s")
  }

  test("q137 CMS: the probe joins the 256-row counter table by broadcast, never a shuffle") {
    val df = SketchOps.q137CmsHeavyHitters(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastHashJoin"),
      s"counter table must broadcast into the probe:\n$s")
  }

  test("q179: the fact-sized sweep window partitions by hour; only the tiny per-hour frame sorts globally") {
    // the optimized logical plan carries the partition specs without the
    // AQE query-stage wrapping that hides executed WindowExec nodes
    val df = graft.queries.EventsOps.q179PeakConcurrency(spark, sfDir)
    df.collect()
    val wins = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(wins.nonEmpty, "expected window operators in the sweep plan")
    // the two-phase prefix sum's contract: exactly ONE globally-ordered
    // window (the |hours|-row offset cumsum); every window over boundary
    // deltas is hour-partitioned and so fans out across executors
    assert(wins.count(_.partitionSpec.isEmpty) == 1,
      "only the per-hour offset frame may use a global (single-partition) window")
    assert(wins.exists(_.partitionSpec.nonEmpty),
      "the boundary-delta running sum must partition by hour")
  }

  test("q182/q183: candidate and window-end joins stay equi-keyed — no cartesian, no nested loop") {
    for (df <- Seq(graft.queries.Dedup.q182SetSimJoin(spark, sfDir),
                   SketchOps.q183BitmapDistinct(spark, sfDir))) {
      df.collect()
      val s = finalPlan(df)
      assert(!s.contains("CartesianProduct"), s"no cartesian:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"no nested-loop (range-join) fallback — the explode/prefix idiom must equi-join:\n$s")
    }
  }

  test("q188/q190: every window is group-partitioned — no single-partition window over the fact") {
    for (df <- Seq(graft.queries.Temporal.q188Twap(spark, sfDir),
                   graft.queries.Similarity.q190EmbeddingDrift(spark, sfDir))) {
      df.collect()
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "a global window here would serialize the fact through one partition")
      val s = finalPlan(df)
      assert(!s.contains("CartesianProduct"), s"no cartesian:\n$s")
    }
  }

  test("q207 spatial join: grid-blocked candidates equi-join on the cell — no cartesian, no nested loop") {
    val df = MiningOps.q207SpatialJoin(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(!s.contains("CartesianProduct"), s"no all-pairs:\n$s")
    assert(!s.contains("BroadcastNestedLoopJoin"), s"the cell join must be equi-keyed:\n$s")
  }

  test("q197 importance resample: the 64-row score frame broadcasts; top-k is a global heap, not a sort") {
    val df = Curation.q197ImportanceResample(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    assert(s.contains("BroadcastExchange") || s.contains("BroadcastHashJoin"),
      s"bucket scores must broadcast back onto the token stream:\n$s")
    assert(!s.contains("CartesianProduct"), s"no cartesian:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"selection must plan as per-partition heaps + tiny reduce, not a global sort:\n$s")
  }

  test("q198/q203: stratified windows and audits stay group-partitioned") {
    for (df <- Seq(Curation.q198WeightedReservoir(spark, sfDir),
                   MiningOps.q203KAnonymity(spark, sfDir))) {
      df.collect()
      val wins = df.queryExecution.optimizedPlan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.forall(_.partitionSpec.nonEmpty),
        "no single-partition window over the corpus")
      val s = finalPlan(df)
      assert(!s.contains("CartesianProduct"), s"no cartesian:\n$s")
    }
    // the reservoir's rank filter must prune map-side
    val s198 = finalPlan(Curation.q198WeightedReservoir(spark, sfDir))
    assert(s198.contains("TopKPerKeyPartial"),
      s"rk <= k must prune map-side through the native top-k:\n$s198")
  }

  test("q215 bucketed join: both scans bucketed, ZERO shuffle in the join subtree") {
    val join = LayoutOps.q215JoinOnly(spark, sfDir)
    join.collect()
    val plan = executed(join)
    val shuffles = collectAll(plan).collect { case e: ShuffleExchangeLike => e }
    assert(shuffles.isEmpty,
      s"the co-located bucketed join must not exchange either side:\n${finalPlan(join)}")
    val s = finalPlan(join)
    assert(s.contains("SortMergeJoin"), s"merge-hinted bucketed join expected:\n$s")
    assert(s.contains("SelectedBucketsCount") || s.contains("Bucketed: true"),
      s"scans must be bucket-aware:\n$s")
    // the full query only exchanges for the final priority-sized rollup
    val full = LayoutOps.q215BucketedJoin(spark, sfDir)
    full.collect()
    val fullShuffles = collectAll(executed(full)).collect { case e: ShuffleExchangeLike => e }
    assert(fullShuffles.size <= 2,
      s"only the rollup (partial/final) may exchange, got ${fullShuffles.size}:\n${finalPlan(full)}")
  }

  test("q211/q216/q217: candidate and scoring joins stay equi-keyed — no cartesian, no nested loop") {
    for (df <- Seq(graft.queries.Dedup.q211ContainmentJoin(spark, sfDir),
                   GraphOps.q216LinkPrediction(spark, sfDir),
                   EventsOps.q217Attribution(spark, sfDir))) {
      df.collect()
      val s = finalPlan(df)
      assert(!s.contains("CartesianProduct"), s"no all-pairs:\n$s")
      assert(!s.contains("BroadcastNestedLoopJoin"),
        s"prefix/degree-cap/user-keyed joins must stay equi-keyed:\n$s")
    }
  }

  test("q237 Gram: one corpus scan, zero joins — the triangle is row-local") {
    val df = Similarity.q237GramMatrix(spark, sfDir)
    val s = formatted(df)
    val scans = s.linesIterator.count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"the sufficient statistics must come from ONE scan, got $scans:\n$s")
    assert(!s.contains("Join"),
      s"per-row product generation must not self-join the exploded frame:\n$s")
    df.collect()
  }

  test("q212: each (table, pair) screen scans its fact exactly once") {
    // the one fact-sized stage: exactly one file scan in its plan
    val obs = MiningOps.q212Obs(
      Tables(spark, sfDir, "lineitem"), "l_returnflag", "l_linestatus")
    // formatted output lists each node twice (tree + detail): count the
    // numbered detail headers, one per physical node
    val scans = formatted(obs).linesIterator
      .count(_.matches("""\(\d+\) Scan parquet\s*"""))
    assert(scans == 1, s"obs must read the fact once, got $scans:\n${formatted(obs)}")
    // the full query: every margin/grid/readout frame derives from the
    // checkpointed cells — NO parquet scan may appear above the checkpoints
    val full = MiningOps.q212Chi2Screen(spark, sfDir)
    full.collect()
    val s = finalPlan(full)
    assert(!s.contains("Scan parquet"),
      s"margins must derive from the checkpointed cells, not rescan the fact:\n$s")
    assert(s.contains("ExistingRDD") || s.contains("Scan ExistingRDD"),
      s"expected checkpointed cells feeding the grid:\n$s")
  }

  test("q235 variant: the k predicate pushes into the SHREDDED parquet scan as a typed filter") {
    val df = EventsOps.q235VariantShred(spark, sfDir)
    val s = formatted(df)
    // PushVariantIntoScan must rewrite variant_get onto the shredded
    // typed column: the filter reaches the scan as a comparison on a
    // props_v subfield, and the read schema carries the typed bigint —
    // NOT just the variant binary
    val scanDetail = s.split("\n\n").find(b => b.contains("Scan parquet") && b.contains("ReadSchema"))
      .getOrElse(fail(s"no scan detail block in:\n$s"))
    assert(scanDetail.contains("PushedFilters") &&
      scanDetail.matches("(?s).*GreaterThanOrEqual\\(props_v.*50\\).*"),
      s"k >= 50 must push into the variant scan:\n$scanDetail")
    assert(scanDetail.contains("bigint"),
      s"read schema must carry the shredded typed column:\n$scanDetail")
    // and no JSON-string machinery anywhere in the plan
    assert(!s.contains("regexp") && !s.contains("get_json_object"),
      s"the variant path must not re-parse JSON strings:\n$s")
  }

  test("q56 BM25 is served by the lexical store: no corpus scan, postings partition-pruned") {
    CorpusOps.writeLexStore(spark, sfDir)
    val df = CorpusOps.q56Bm25(spark, sfDir)
    val rows = df.collect()
    val s = finalPlan(df)
    // one tokenize per INGEST: the query itself must never read the
    // corpus text — every scan in the plan is a lexstore table
    assert(!s.contains("documents.parquet"),
      s"q56 must read the lexical store, not the corpus:\n$s")
    assert(s.contains("graft_lexstore"), s"expected lexstore scans in:\n$s")
    // the postings read prunes to the query terms' hash partitions
    val fm = formatted(df)
    val postingsScan = fm.split("\n\n")
      .find(b => b.contains("postings") && b.contains("PartitionFilters"))
      .getOrElse(fail(s"no postings scan with partition filters in:\n$fm"))
    assert(postingsScan.contains("pbkt"),
      s"postings scan must carry a pbkt partition filter:\n$postingsScan")
    // identity: the store-served result equals the tokenize fallback
    CorpusOps.lexStoreEnabled = false
    try {
      val cold = CorpusOps.q56Bm25(spark, sfDir).collect()
      assert(rows.sameElements(cold),
        "store-served BM25 must equal the tokenize-path result")
    } finally CorpusOps.lexStoreEnabled = true
  }

  test("q242 phrase search is served by the positional store: no corpus scan, pruned postings") {
    CorpusOps.writeLexStore(spark, sfDir)
    val df = CorpusOps.q242PhraseSearch(spark, sfDir)
    val rows = df.collect()
    val s = finalPlan(df)
    // the phrase intersect runs over store postings — the corpus text is
    // never read or re-tokenized at query time
    assert(!s.contains("documents.parquet"),
      s"q242 must read the positional store, not the corpus:\n$s")
    assert(s.contains("graft_lexstore"), s"expected lexstore scans in:\n$s")
    // the postings read prunes to the phrase terms' hash partitions
    val fm = formatted(df)
    val postingsScan = fm.split("\n\n")
      .find(b => b.contains("postings") && b.contains("PartitionFilters"))
      .getOrElse(fail(s"no postings scan with partition filters in:\n$fm"))
    assert(postingsScan.contains("pbkt"),
      s"postings scan must carry a pbkt partition filter:\n$postingsScan")
    // identity: store-served phrase hits equal the tokenize fallback's
    CorpusOps.lexStoreEnabled = false
    try {
      val cold = CorpusOps.q242PhraseSearch(spark, sfDir).collect()
      assert(rows.sameElements(cold),
        "store-served phrase search must equal the tokenize-path result")
    } finally CorpusOps.lexStoreEnabled = true
  }

  test("q244 proximity: the position-distance predicate runs as a banded EQUI join on the store") {
    CorpusOps.writeLexStore(spark, sfDir)
    val df = CorpusOps.q244ProximityPairs(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // |pa - pb| <= W must band into an equi-join, never a nested loop
    assert(!s.contains("CartesianProduct") && !s.contains("BroadcastNestedLoopJoin"),
      s"the range predicate must run banded-equi:\n$s")
    // and the positions come from the store's pruned partitions, not a
    // corpus re-tokenize
    assert(!s.contains("documents.parquet"),
      s"q244 must read the positional store, not the corpus:\n$s")
    // the fleet generalization inherits the banded-equi contract: the
    // POSITION join keys on (query_id, doc_id, band) as an equi join;
    // the only nested loops allowed are the query-construction grid's
    // tiny range(120) x range(3) x count-row crossJoins (no position
    // attribute on either side — same shape q253Queries carries)
    val fdf = CorpusOps.q260ProximityFleet(spark, sfDir)
    val posNames = Set("pos", "pa", "pb", "positions")
    val loops = fdf.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.condition.isEmpty ||
            j.joinType == org.apache.spark.sql.catalyst.plans.Cross =>
        j
    }.filter(j => j.left.output.exists(a => posNames(a.name)) ||
      j.right.output.exists(a => posNames(a.name)))
    assert(loops.isEmpty,
      s"q260's position join must be banded-equi, found non-equi join over positions:\n" +
        loops.map(_.simpleString(4)).mkString("\n"))
    val sf = finalPlan(fdf)
    assert(sf.contains("band"), s"the banded key must survive to the physical join:\n$sf")
  }

  test("q247 WAND is served by the store: no corpus scan, impact metadata pruned, fallback identity") {
    CorpusOps.writeLexStore(spark, sfDir)
    val df = CorpusOps.q247WandTopK(spark, sfDir)
    val rows = df.collect()
    val s = finalPlan(df)
    assert(!s.contains("documents.parquet"),
      s"q247 must read the store (dl + postings + maxscore), not the corpus:\n$s")
    assert(s.contains("maxscore"),
      s"the upper bounds must come from the ingest-time impact metadata:\n$s")
    // identity: store-served pruned top-k equals the tokenize-fallback's
    CorpusOps.lexStoreEnabled = false
    try {
      val cold = CorpusOps.q247WandTopK(spark, sfDir).collect()
      assert(rows.sameElements(cold),
        "store-served WAND must equal the tokenize-path result")
    } finally CorpusOps.lexStoreEnabled = true
  }

  /** Construction-time jobs the fleet contract does NOT permit, from the
    * (result-stage name, SQL execution id) of every construction job. Allowed:
    * the store reads' distributed partition-discovery listings
    * (InMemoryFileIndex — table-count-sized), the FLEET-CONSTANT hub
    * materializations (`CorpusOps.fleetHub` & co.'s eager localCheckpoints
    * — a fixed number per top-level build, each fleet-sized in rows, never
    * per-query), and the AQE stage jobs (submitted from AQE's own threads,
    * so their call site is `withThreadLocalCaptured`/`CompletableFuture`)
    * ONLY when they belong to the SQL execution of one of those
    * localCheckpoints. A reintroduced per-query driver step
    * (collect/take/head inside the pipeline) still trips the gate — under
    * its own action name, or as AQE stage jobs of an execution no
    * localCheckpoint owns.
    */
  private def disallowedFleetConstructionJobs(jobs: Seq[(String, String)]): Seq[String] = {
    val checkpointExecs = jobs.collect {
      case (name, exec) if name.startsWith("localCheckpoint at") && exec != null => exec
    }.toSet
    jobs.filterNot { case (name, exec) =>
      name.startsWith("parquet at") ||
        name.startsWith("localCheckpoint at") ||
        ((name.contains("withThreadLocalCaptured") || name.contains("CompletableFuture")) &&
          checkpointExecs(exec))
    }.map { case (name, exec) => s"$name [execution $exec]" }
  }

  test("q253 batch WAND: plan construction performs only fleet-constant " +
      "actions (store listings + hub materializations); store-served") {
    CorpusOps.writeLexStore(spark, sfDir)
    // the whole point of the batch surface: the QUERY axis adds zero
    // driver work. Construction may list store partitions and materialize
    // the O(1)-per-build fleet hubs (see disallowedFleetConstructionJobs);
    // any per-query collect added to the pipeline surfaces as a
    // non-allowlisted job and trips this gate.
    val listener = new ConstructionJobs
    spark.sparkContext.addSparkListener(listener)
    val df =
      try {
        val built = CorpusOps.q253WandBatch(spark, sfDir)
        // marker action (plain RDD job — exactly one, unmistakable stage
        // name): once it appears on the ordered listener bus, every
        // construction-time job has already been recorded before it
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val pre = listener.beforeMarker()
        val bad = disallowedFleetConstructionJobs(pre)
        assert(bad.isEmpty,
          s"fleet plan construction must submit no Spark jobs beyond store " +
            s"partition listings and fleet-hub materializations, saw: " +
            s"${bad.mkString(" // ")}")
        val listings = pre.count(_._1.startsWith("parquet at"))
        assert(listings <= 6,
          s"store listing jobs must stay table-count-sized, saw $listings")
        assert(pre.length <= 24,
          s"construction jobs must stay fleet-constant (one hub build), " +
            s"saw ${pre.length}")
        built
      } finally spark.sparkContext.removeSparkListener(listener)
    val s = finalPlan(df)
    assert(!s.contains("documents.parquet"),
      s"q253 must read the store (dl + postings + maxscore), not the corpus:\n$s")
    assert(s.contains("maxscore"),
      s"the upper bounds must come from the ingest-time impact metadata:\n$s")
  }

  test("q257/q258 fleet eval + snippets: plan construction performs only " +
      "fleet-constant actions (store listings + hub materializations); " +
      "store-served") {
    CorpusOps.writeLexStore(spark, sfDir)
    // the fleet scorecard and the fleet snippet table inherit q253's
    // contract: the QUERY axis adds no driver work — q251's bounded
    // driver-counted totalRel deliberately has NO fleet analogue, and a
    // reintroduced per-query collect would surface here as a non-listing
    // construction job
    // q259 inherits the same contract: ≥100 phrases, ONE DAG, the phrase
    // table itself derived from the store's positional postings — no
    // corpus text read, no per-phrase driver work
    for ((name, build) <- Seq[(String, () => org.apache.spark.sql.DataFrame)](
      "q257" -> (() => CorpusOps.q257FleetEval(spark, sfDir)),
      "q258" -> (() => CorpusOps.q258FleetSnippets(spark, sfDir)),
      "q259" -> (() => CorpusOps.q259PhraseFleet(spark, sfDir)),
      "q260" -> (() => CorpusOps.q260ProximityFleet(spark, sfDir)),
      "q262" -> (() => CorpusOps.q262FleetSnippetText(spark, sfDir)))) {
      val listener = new ConstructionJobs
      spark.sparkContext.addSparkListener(listener)
      val df =
        try {
          val built = build()
          spark.sparkContext.parallelize(Seq(1), 1).count()
          val pre = listener.beforeMarker()
          val bad = disallowedFleetConstructionJobs(pre)
          assert(bad.isEmpty,
            s"$name construction must submit no Spark jobs beyond store " +
              s"partition listings and fleet-hub materializations, saw: " +
              s"${bad.mkString(" // ")}")
          // fleet-constant bound: the hub materializations are at most
          // THREE per build (queries hub, ranked-docs page, span page),
          // each a bounded-wave execution — a per-query driver step would
          // blow far past this
          assert(pre.length <= 96,
            s"$name construction jobs must stay fleet-constant, " +
              s"saw ${pre.length}")
          built
        } finally spark.sparkContext.removeSparkListener(listener)
      val s = finalPlan(df)
      assert(!s.contains("documents.parquet"),
        s"$name must be served from the store, not the corpus text:\n$s")
    }
  }

  test("q258: no position-level self-join survives in the span stage") {
    CorpusOps.writeLexStore(spark, sfDir)
    // the covering-window stage must be the as-of union + running-max
    // (O(P·|terms|)), never the former qp⋈qp self-join on bare
    // (query_id, doc_id) whose row count is quadratic in a ranked doc's
    // occurrence count. Signature of the quadratic shape: a Join whose
    // BOTH sides still carry a token-position attribute. Position columns
    // are only ever named pos/endp/p2/occ in this pipeline; every
    // legitimate join keeps positions on at most one side (positions ⋈
    // query terms, positions ⋈ ranked docs, spans ⋈ qsz).
    val posNames = Set("pos", "endp", "p2", "occ", "positions")
    val plan = CorpusOps.q258FleetSnippets(spark, sfDir)
      .queryExecution.optimizedPlan
    val offenders = plan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.left.output.exists(a => posNames(a.name)) &&
            j.right.output.exists(a => posNames(a.name)) => j
    }
    assert(offenders.isEmpty,
      s"found position×position join(s) — the quadratic span shape:\n" +
        offenders.map(_.simpleString(4)).mkString("\n"))
    // and the rewrite's own signature must be present: a per-term window
    val windows = plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.references.exists(_.name == "term")) => w
    }
    assert(windows.nonEmpty, "expected the (query, doc, term) running-max window")
  }

  test("q261: the EXECUTED delta scan reads exactly the stats-pruned file") {
    val df = IngestOps.q261DeltaSkipping(spark, sfDir)
    df.collect()
    // files-actually-read comes from the scan's numFiles metric after
    // execution (inputFiles ignores pruning); the delta fixture scan —
    // the one whose input paths live under the fixture root — must have
    // read exactly ONE of the table's 8 files. The documents scan that
    // derives the range bounds is a separate, corpus-sized scan.
    val delta = graft.queries.ReplayFixtures.fixtureRootFor(sfDir, "q261")
    val scans = collectAll(executed(df)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("graft_fix_q261")) => f
    }
    assert(scans.nonEmpty, s"expected a delta-table file scan under $delta")
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead == 1L,
      s"data skipping must leave ONE of 8 files in the scan, read $filesRead")
  }

  test("q276 mapped skipping: the EXECUTED scan reads exactly ONE file and " +
      "binds PHYSICAL field names — pruning translated through the mapping") {
    val df = IngestOps.q276MappedSkipping(spark, sfDir)
    df.collect()
    val scans = collectAll(executed(df)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec
          if f.relation.location.inputFiles.exists(_.contains("graft_fix_q276")) => f
    }
    assert(scans.nonEmpty, "expected a mapped-table file scan under graft_fix_q276")
    // both pruning tiers survive the logical→physical translation: the
    // lang partition (partitionValues keyed col-l0003) prunes every other
    // language, the doc_id stats envelope (footer keys col-d0001) prunes
    // the upper-half commit — one file survives
    val filesRead = scans.map(_.metrics("numFiles").value).sum
    assert(filesRead == 1L,
      s"mapped skipping must leave ONE file in the scan, read $filesRead")
    // the scan itself binds the files' OWN spelling — physical names
    val readFields = scans.flatMap(_.requiredSchema.fieldNames)
    assert(readFields.exists(_.startsWith("col-")),
      s"mapped scan must read physical field names, got ${readFields.mkString(",")}")
  }

  test("deletion-vector read: DV positions anti-join as BROADCAST; plain files " +
      "keep the direct scan (no join on their branch)") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-plan-dv")
      .toString + "/tbl"
    // file A (0..499) takes a DV; file B (500..999) stays plain
    DeltaLog.commitAppend(root, spark.range(0, 500).select(col("id")).coalesce(1))
    DeltaLog.commitAppend(root, spark.range(500, 1000).select(col("id")).coalesce(1))
    DeltaLog.deleteWhere(spark, root, col("id") < 50)
    val df = DeltaLog.read(spark, root)
    assert(df.count() == 950L)
    // exactly ONE anti-join (the DV'd branch), and it broadcasts the
    // decoded positions — a DV is the deleted MINORITY of a file, so the
    // row filter must never shuffle the data side; the plain file's
    // branch is a bare scan under the union
    val joins = collectAll(executed(df)).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.length == 1,
      s"one join total (the DV branch), got ${joins.map(_.nodeName)}")
    assert(joins.head.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec] &&
      joins.head.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti,
      s"DV anti-join must broadcast: ${joins.head.nodeName} ${joins.head.joinType}")
  }

  test("partitioned Delta read: ONE file scan regardless of partition-value " +
      "count; partition decoration is a broadcast join") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.functions.col
    val root = java.nio.file.Files.createTempDirectory("graft-plan-part")
      .toString + "/tbl"
    // 40 distinct partition values — the former union-per-value plan
    // built 40 FileSourceScan children (driver planning blowup on a
    // date-partitioned table); the flat plan must stay ONE scan + one
    // broadcast (file → partitionValues) decoration at ANY value count
    DeltaLog.commitAppendPartitioned(root,
      spark.range(0, 1000).select(col("id"), (col("id") % 40).as("p")),
      createPartitionBy = Seq("p"))
    val df = DeltaLog.read(spark, root)
    assert(df.count() == 1000L)
    val plan = executed(df)
    val scans = collectAll(plan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.length == 1,
      s"one flat scan expected over 40 partition values, got ${scans.length}")
    val joins = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"partition decoration must broadcast, got ${joins.map(_.nodeName)}")
    // the decoded partition column round-trips typed values exactly
    assert(df.filter(col("p") === 7).count() == 25L)
    assert(df.groupBy().sum("p").collect()(0).getLong(0) ==
      (0L until 1000L).map(_ % 40).sum)
  }

  test("readChangeFeed catch-up over a 52-version history plans O(1) " +
      "grouped scans + broadcast version decoration, never a per-version union") {
    import graft.sources.DeltaLog
    import org.apache.spark.sql.functions.{col, lit}
    val root = java.nio.file.Files.createTempDirectory("graft-plan-feed")
      .toString + "/tbl"
    // 50 appends (one file each) + 2 deletion-vector DELETEs — the
    // catch-up shape a derived-store sync reads after a day offline. The
    // former plan built one-to-three frames PER VERSION
    // (frames.reduce(unionByName)): a 50-child union of separate
    // FileSourceScans — driver planning blowup, no shared scan.
    (0 until 50).foreach { i =>
      DeltaLog.commitAppend(root,
        spark.range(i * 10, i * 10 + 10).select(col("id").as("k")))
    }
    DeltaLog.deleteWhere(spark, root, col("k") % 100 === 7L)
    DeltaLog.deleteWhere(spark, root, col("k") % 100 === 57L)
    val hi = DeltaLog.currentVersion(root)
    val feed = DeltaLog.readChangeFeed(spark, root, -1L, hi)
    // correctness first: 500 inserts + 5 + 5 derived deletes, versioned
    assert(feed.count() == 510L)
    assert(feed.filter(col("_change_type") === "insert").count() == 500L)
    assert(feed.select(col("_commit_version")).distinct().count() == 52L)
    assert(feed.filter(col("_change_type") === "delete" &&
      col("_commit_version") === lit(hi)).count() == 5L)
    val plan = executed(feed)
    val scans = collectAll(plan).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // one grouped insert scan + one distinct-rewritten-paths scan — the
    // bound is structural (per change CLASS), not per version
    assert(scans.length <= 3,
      s"grouped feed read must plan O(1) scans over 52 versions, " +
        s"got ${scans.length}")
    val joins = collectAll(plan).collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }
    assert(joins.nonEmpty && joins.forall(_.isInstanceOf[
        org.apache.spark.sql.execution.joins.BroadcastHashJoinExec]),
      s"version decoration + DV diff must broadcast, got ${joins.map(_.nodeName)}")
  }

  test("q272 ANN search is served by the store: postings scan reads ONLY the " +
      "probed list partitions, the corpus scan is the pushed-down query set") {
    import graft.queries.Similarity
    val df = Similarity.q272AnnStoreSearch(spark, sfDir)
    df.collect()
    val scans = collectAll(executed(df)).collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    // the scoring side reads the persisted postings, never the corpus
    val postingsFiles = scans
      .flatMap(_.relation.location.inputFiles)
      .filter(_.contains("annstore/postings"))
    assert(postingsFiles.nonEmpty, "the search must be served by the store")
    assert(postingsFiles.forall(_.contains("/list=")),
      s"every postings input must be a pruned list partition:\n" +
        postingsFiles.take(5).mkString("\n"))
    val probedLists = postingsFiles
      .map(p => p.substring(p.indexOf("list=") + 5).takeWhile(_ != '/')).toSet
    assert(probedLists.size <= 20,
      s"at most queries x nprobe = 20 list partitions, got ${probedLists.size}")
    // the corpus parquet appears only for the 10 query vectors — the
    // vec_id predicate must reach the scan
    val corpusScans = scans.filter(_.relation.location.inputFiles
      .exists(f => f.contains("embeddings.parquet")))
    assert(corpusScans.nonEmpty)
    assert(corpusScans.forall(_.metadata.get("PushedFilters")
        .exists(_.contains("vec_id"))),
      "the query-set read must push vec_id < 10 into the corpus scan")
  }

  test("q226: the only cross product is the documented tiny hours x types grid") {
    val df = EventsOps.q226CorrMatrix(spark, sfDir)
    df.collect()
    val s = finalPlan(df)
    // the dense-grid crossJoin is types-sized and broadcast by construction;
    // the pair join itself must be hour-keyed equi
    assert(!s.contains("CartesianProduct"), s"grid must broadcast, pairs must equi-join:\n$s")
  }
}
