package graft

import org.apache.spark.sql.functions._

/** The typed Scala facade — reference `SequilaSession` parity
  * (`utvf/SequilaSession.scala:89-113`): coverage/pileup as typed
  * Datasets, plus the pipeline operators. */
class GraftSessionSpec extends SparkSpec {

  test("a second Graft.ensure registers nothing") {
    Graft.ensure(spark)
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    def registered() =
      Seq(state.functionRegistry, state.tableFunctionRegistry).map { reg =>
        reg.listFunction().map(id => id -> reg.lookupFunctionBuilder(id).get).toMap
      }
    val before = registered()
    val pileup = graft.functions.PileupUDFs.udfs.map(_._1)
    assert(pileup.forall(n => before.head.keys.exists(_.funcName == n)))
    val strategies = spark.experimental.extraStrategies
    val rules = spark.experimental.extraOptimizations
    Graft.ensure(spark)
    registered().zip(before).foreach { case (after, was) =>
      assert(after.keySet === was.keySet)
      // A re-registration would install a new builder object.
      assert(after.forall { case (id, b) => b eq was(id) },
        after.collect { case (id, b) if !(b eq was(id)) => id }.mkString(", "))
    }
    assert(spark.experimental.extraStrategies === strategies)
    assert(spark.experimental.extraOptimizations === rules)
  }

  test("typed coverage/pileup Datasets match the DataFrame surface") {
    val gs = GraftSession(spark)
    val reads = Tables.reads(spark, sf0001).filter(col("sample_id") === "s1")

    val covDs = gs.coverageDs(reads)
    val covDf = gs.coverage(reads)
    assert(covDs.count() === covDf.count())
    val block: Coverage = covDs.orderBy(col("contig"), col("pos_start")).head()
    assert(block.pos_start <= block.pos_end && block.coverage > 0)

    val pilDs = gs.pileupDs(reads)
    assert(pilDs.count() === gs.pileup(reads).count())
    val row: Pileup = pilDs.orderBy(col("contig"), col("pos")).head()
    assert(row.count_ref + row.count_nonref === row.coverage.toLong)
    assert(row.alts.contains(" -> "))
  }

  test("round-5 facade additions run end-to-end") {
    val gs = GraftSession(spark)
    val reads = Tables.reads(spark, sf0001).filter(col("sample_id") === "s1")
    val b = Tables.ivB(spark, sf0001).filter(col("b_key") % 5 === 0)
    val a = Tables.ivA(spark, sf0001).distinct()

    // interval set algebra family
    assert(gs.mergeIntervals(b).count() > 0)
    assert(gs.complementIntervals(b).count() > 0)
    assert(gs.subtractIntervals(a, b, "a_key").count() > 0)
    assert(gs.clusterIntervals(b, Seq("b_key")).count() === b.count())
    val jac = gs.intervalSetJaccard(a, b).head()
    assert(jac.getDouble(2) > 0.0 && jac.getDouble(2) <= 1.0)
    val chain = gs.mergeIntervals(b)
      .select(col("contig"), col("pos_start"), col("pos_end"),
        concat(lit("L"), col("contig")).as("dest_contig"), lit(5).as("offset"))
    assert(gs.liftover(a, chain, "a_key").count() > 0)

    // coverage/pileup extensions
    val s2 = Tables.reads(spark, sf0001).filter(col("sample_id") === "s2")
    assert(gs.mergeCoverage(gs.coverage(reads), gs.coverage(s2)).count() > 0)
    assert(gs.targetCoverage(reads, Tables.targets(spark, sf0001)).count() > 0)
    val md = Tables.readsMd(spark, sf0001)
    assert(gs.pileupBy(md).select(col("sample_id")).distinct().count() === 4)
    assert(gs.callVariants(gs.pileupMaps(
      md.filter(col("sample_id") === "s1")), minDepth = 1, minAltPct = 1).count() > 0)

    // training-pipeline additions
    val docs = Tables.documents(spark, sf0001)
    val tok = gs.tokenize(docs, vocabSize = 64).head()
    assert(tok.getSeq[Int](1).nonEmpty)
    assert(gs.chunk(docs, chunkTokens = 32, overlapTokens = 8).count() >= docs.count())
  }

  test("events self-heals on TIMESTAMP(NANOS) parquet without the legacy conf") {
    // A session this repo did NOT build (no nanosAsLong conf) must still
    // load a NANOS-generation events.parquet: the plain read rejects the
    // logical type, and Tables.events retries with an explicit raw-INT64
    // schema. Fixture: 20 rows, ts = 1.7e18 ns + i hours (pyarrow
    // timestamp[ns], the encoding Spark 4 cannot read without the conf).
    val dir = getClass.getResource("/nanos").getPath
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prev = spark.conf.getOption(key)
    try {
      spark.conf.unset(key)
      val df = Tables.eventsUs(spark, dir)
      assert(df.count() === 20)
      assert(df.orderBy("event_id").select("ts_us").head().getLong(0) === 1700000000000000L)
    } finally prev.foreach(spark.conf.set(key, _))
    // With the conf set (this harness's builders), the plain-read
    // LongType branch must give the identical instant.
    assert(Tables.eventsUs(spark, dir).orderBy("event_id")
      .select("ts_us").head().getLong(0) === 1700000000000000L)
  }

  test("loading events mutates no session conf (r6 ADVICE twin of the r5 timezone fix)") {
    // Targeted keys (not conf.getAll — other confs move legitimately):
    // these two are the ones table loads have historically
    // leaked (r5: session.timeZone, r6: nanosAsLong).
    val keys = Seq("spark.sql.legacy.parquet.nanosAsLong", "spark.sql.session.timeZone")
    val before = keys.map(k => k -> spark.conf.getOption(k))
    Tables.events(spark, sf0001).count()
    Tables.eventsUs(spark, sf0001).count()
    val after = keys.map(k => k -> spark.conf.getOption(k))
    assert(after === before)
  }

  test("facade operators run end-to-end") {
    val gs = GraftSession(spark)
    val docs = Tables.corpus(spark, sf0001)
    assert(gs.exactDuplicates(docs).count() > 0)
    val emb = Tables.embeddings(spark, sf0001)
    val q = emb.filter(col("vec_id") < 5)
    assert(gs.similarityTopKIvf(emb, q, 3).count() === 15)
    assert(gs.sql("SELECT * FROM bdg_grange('1', 10, 20)").count() === 1)
    val base = Tables.documents(spark, sf0001)
    assert(gs.crossDuplicates(docs.filter(col("doc_id") >= 10000), base, 0.6).count() > 0)
    val packed = gs.packForTraining(base, budget = 256)
    assert(packed.count() === base.count())
    assert(packed.filter(col("pack_offset") >= 256 || col("pack_offset") < 0).count() === 0)
  }
}
