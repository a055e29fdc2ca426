package graft.perfbench

import graft.operators.NearestJoinOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}

import java.nio.file.{Files, Paths}

/** One query shape of a workload. `build` turns the session into the
  * query's DataFrame (the operators layer); `run` executes it to the end
  * (the exec layer). `regime` names the physical regime the executed plan
  * must show; `inputRows` is the input the query consumes. */
final case class QueryType(name: String, regime: String, inputRows: Long,
    build: () => DataFrame, run: DataFrame => Unit = Workloads.drain,
    streamProgress: () => Seq[StreamingQueryProgress] = () => Nil)

/** `writeS` is the time set-up spent writing fixtures with graft's sources. */
final case class Workload(queries: Seq[QueryType], setupNotes: Map[String, Any], writeS: Double = 0.0)

object Workloads {

  /** Executes every row of the frame's own QueryExecution without
    * collecting it to the driver, so the plan that ran is the one
    * `df.queryExecution` holds afterwards. */
  def drain(df: DataFrame): Unit = {
    val qe = df.queryExecution
    SQLExecution.withNewExecutionId(qe, Some("perfbench"))(qe.executedPlan.execute().foreach(_ => ()))
  }

  /** The full outer join reads one contig (gen.FULL_OUTER_CONTIG). */
  val FullOuterContig = "chr1"

  /** The planner's size estimate, the figure graft's regime choices read. */
  def estimate(df: DataFrame): Long = df.queryExecution.optimizedPlan.stats.sizeInBytes.toLong

  def overlaps(a: DataFrame, b: DataFrame) =
    a("contig") === b("contig") && a("pos_end") >= b("pos_start") && a("pos_start") <= b("pos_end")

  /** featurecounts (`overBudget` false) and wide_join (true) run the same
    * query shapes; only the annotation side's size relative to the
    * broadcast budget differs, and with it the regime each must take. */
  def join(spark: SparkSession, data: String, work: String, inputs: Map[String, Long],
      overBudget: Boolean): Workload = {
    def regime(fits: String, over: String) = if (overBudget) over else fits
    val reads = spark.read.parquet(s"$data/reads.parquet")
    val feats = spark.read.parquet(s"$data/features.parquet")
    val (nReads, nFeats, nChr1, nProbes) =
      (inputs("reads"), inputs("features"), inputs("chr1_reads"), inputs("probes"))
    val chr1 = reads.filter(col("contig") === FullOuterContig)
    val probes = reads.filter(col("a_key") % inputs("probe_every") === 0)
    val shapes = Seq(
      QueryType("count_per_feature", regime("forest_count", "bin_count"), nReads + nFeats, () =>
        reads.join(feats, overlaps(reads, feats)).groupBy(col("b_key"))
          .agg(count(lit(1)).as("n_reads"))),
      QueryType("pairs", regime("forest_broadcast", "bin_range_shuffle"), nReads + nFeats, () =>
        reads.join(feats, overlaps(reads, feats)).select(col("a_key"), col("b_key"))),
      QueryType("full_outer", regime("forest_broadcast", "forest_binrange"), nChr1 + nFeats, () =>
        chr1.join(feats, overlaps(chr1, feats), "full_outer").select(col("a_key"), col("b_key"))),
      QueryType("nearest_k", regime("nearest_broadcast", "nearest_merge"), nProbes + nFeats, () =>
        NearestJoinOps.nearestKJoin(probes, feats, 3)
          .select(col("a_key"), col("b_key"), col("distance"))))
    // Streaming featureCounts (per-read overlap counts over micro-batches)
    // broadcasts the catalog, so only the workload whose catalog fits runs it.
    val stream = if (overBudget) Nil else Seq(streamCount(spark, data, work, feats, nReads + nFeats,
      inputs("stream_files")))
    Workload(shapes ++ stream,
      Map("features_estimate_bytes" -> estimate(feats), "reads_estimate_bytes" -> estimate(reads)))
  }

  /** Reads arrive as a parquet file stream, one file per micro-batch, and
    * StreamingOps.countStream counts each read's overlapping features. A
    * run is one AvailableNow query over every file into a memory sink. */
  private def streamCount(spark: SparkSession, data: String, work: String, feats: DataFrame,
      inputRows: Long, nFiles: Long): QueryType = {
    import spark.implicits._
    val dir = s"$data/reads_stream"
    val schema = spark.read.parquet(dir).schema
    var run = 0
    var progress: Seq[StreamingQueryProgress] = Nil
    QueryType("stream_count", "stream", inputRows,
      build = () => {
        val reads = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(dir)
          .select(col("contig"), col("pos_start"), col("pos_end"), timestamp_seconds(col("a_key")).as("ts"))
          .as[graft.streaming.StreamingOps.StreamRead]
        graft.streaming.StreamingOps.countStream(reads, feats)
      },
      run = { df =>
        run += 1
        val name = s"stream_count_$run"
        val cp = s"$work/checkpoints/$name"
        val q = df.writeStream.format("memory").queryName(name).outputMode("append")
          .option("checkpointLocation", cp).trigger(Trigger.AvailableNow()).start()
        try q.awaitTermination() finally q.stop()
        progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        require(progress.size == nFiles, s"stream ran ${progress.size} non-empty batches for $nFiles files")
        if (lastTable.nonEmpty) spark.catalog.dropTempView(lastTable)
        lastTable = name
        deleteTree(Paths.get(cp))
      },
      streamProgress = () => progress)
  }

  def depth(spark: SparkSession, data: String, work: String, inputs: Map[String, Long]): Workload = {
    val aln = spark.read.parquet(s"$data/alignments.parquet")
      .drop("has_alt", "alt_pos", "alt_base", "base_qual")
    val n = inputs("alignments")
    val t0 = System.nanoTime()
    graft.sources.SourceUtil.writeBam(aln, s"$work/bam/s1.bam")
    graft.sources.SourceUtil.writeCram(aln, s"$work/cram/s1.cram", s"$data/ref.fa",
      externalCompression = "cram31")
    val writeS = (System.nanoTime() - t0) / 1e9
    spark.read.format("graft.sources.BamSource").load(s"$work/bam/s1.bam")
      .createOrReplaceTempView("aln_bam")
    spark.read.format("graft.sources.CramSource").option("refPath", s"$data/ref.fa")
      .load(s"$work/cram/s1.cram").createOrReplaceTempView("aln_cram")
    Workload(Seq(
      QueryType("coverage_blocks_bam", "coverage_exec", n, () =>
        spark.sql("SELECT * FROM coverage('aln_bam', 's1')")),
      QueryType("coverage_windows_cram", "coverage_exec", n, () =>
        spark.sql("SELECT * FROM coverage('aln_cram', 's1', 500)")),
      QueryType("pileup_bam", "pileup_exec", n, () =>
        spark.sql("SELECT * FROM pileup('aln_bam', 's1', true, true)")),
      QueryType("pileup_cram", "pileup_exec", n, () =>
        spark.sql("SELECT * FROM pileup('aln_cram', 's1', true, true)"))),
      Map("bam_bytes" -> estimate(spark.table("aln_bam")),
        "cram_bytes" -> estimate(spark.table("aln_cram"))), writeS)
  }

  /** Memory-sink table of the latest stream run (its result). */
  @volatile var lastTable: String = ""

  def deleteTree(p: java.nio.file.Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }
}
