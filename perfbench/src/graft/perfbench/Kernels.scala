package graft.perfbench

import graft.operators.IntervalForest
import graft.functions.{CigarWalk, MdWalk}
import graft.sources.CramCodecs31.RansNx16
import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

/** Spark-free micro-timings of graft's hot kernels over the workload's own
  * inputs. Inputs are loaded to the driver first; each kernel then runs
  * alone, repeatedly, for at least [[MinNs]], and reports the median time
  * per item over its repetitions. Every kernel's output is checked against
  * a brute-force or round-trip reference before it is timed; a failed
  * check throws. Kernels whose inputs the workload lacks report 0. */
object Kernels {

  val Names: Seq[String] = Seq("operators.forest_build_ns", "operators.forest_probe_ns",
    "operators.nearest_k_ns", "functions.cigar_segments_ns",
    "functions.md_walk_ns", "sources.bgzf_inflate_mb_s", "sources.rans_nx16_mb_s")

  private val MinNs = 300L * 1000 * 1000

  /** Median nanoseconds per call of `body` (which processes one batch). */
  private def time(body: => Unit): Double = {
    val reps = scala.collection.mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    while (reps.size < 3 || System.nanoTime() - start < MinNs) {
      val t0 = System.nanoTime()
      body
      reps += (System.nanoTime() - t0).toDouble
    }
    Main.median(reps.toSeq)
  }

  def run(spark: SparkSession, workload: String, data: String, work: String): Map[String, Double] = {
    val measured = workload match {
      case "featurecounts" | "wide_join" => forest(spark, data)
      case "depth" => depth(spark, data, work)
    }
    Names.map(n => n -> measured.getOrElse(n, 0.0)).toMap
  }

  private def forest(spark: SparkSession, data: String): Map[String, Double] = {
    import spark.implicits._
    val feats = spark.read.parquet(s"$data/features.parquet")
      .select("contig", "pos_start", "pos_end", "b_key").as[(String, Int, Int, Long)].collect()
    val reads = spark.read.parquet(s"$data/reads.parquet")
      .select("contig", "pos_start", "pos_end").as[(String, Int, Int)].collect()
      .grouped(20).map(_.head).toArray
    var built: Map[String, IntervalForest[Long]] = null
    val buildNs = time { built = IntervalForest.forest(feats.iterator) }
    val byContig = feats.groupBy(_._1)
    reads.take(200).foreach { case (c, s, e) =>
      val expect = byContig.getOrElse(c, Array.empty).count(f => f._2 <= e && f._3 >= s)
      val got = built.get(c).map(_.overlappers(s, e).size).getOrElse(0)
      require(got == expect, s"forest probe $c:$s-$e found $got overlaps, brute force $expect")
      val dist = byContig.getOrElse(c, Array.empty)
        .map(f => if (f._3 < s) s - f._3 else if (f._2 > e) f._2 - e else 0).minOption
      var first = Int.MaxValue
      built.get(c).foreach(_.foreachNearestK(s, e, 3)((_, _, _, d) => first = math.min(first, d)))
      require(dist.forall(_ == first), s"nearest-k at $c:$s-$e: distance $first, brute force $dist")
    }
    var sink = 0L
    val probeNs = time {
      reads.foreach { case (c, s, e) =>
        built.get(c).foreach(_.foreachOverlap(s, e)((_, _, v) => sink += v))
      }
    }
    val nearNs = time {
      reads.foreach { case (c, s, e) =>
        built.get(c).foreach(_.foreachNearestKDir(s, e, 3, includeOverlaps = true,
          includeUpstream = true, includeDownstream = true)((_, _, v, d, _) => sink += v + d))
      }
    }
    Map("operators.forest_build_ns" -> buildNs / feats.length,
      "operators.forest_probe_ns" -> probeNs / reads.length,
      "operators.nearest_k_ns" -> nearNs / reads.length)
  }

  private def depth(spark: SparkSession, data: String, work: String): Map[String, Double] = {
    import spark.implicits._
    val rows = spark.read.parquet(s"$data/alignments.parquet")
      .select("pos_start", "pos_end", "cigar", "md_tag", "seq", "qual_str", "has_alt")
      .as[(Int, Int, String, String, String, String, Boolean)].collect()
    val utf = rows.map { case (s, e, c, m, q, ql, alt) =>
      (s, e, UTF8String.fromString(c), UTF8String.fromString(m), UTF8String.fromString(q),
        UTF8String.fromString(ql), alt, q.length)
    }
    utf.take(500).foreach { case (s, e, c, m, q, ql, alt, len) =>
      val segs = CigarWalk.coveredSegments(s, e, c)
      val covered = (0 until segs.numElements()).map { k =>
        val r = segs.getStruct(k, 2); r.getInt(1) - r.getInt(0) + 1
      }.sum
      require(covered == len, s"CIGAR $c at $s covers $covered bases, read has $len")
      val mm = MdWalk.mismatches(s, c, m, q, ql).numElements()
      require(mm == (if (alt) 1 else 0), s"MD $m walked $mm mismatches, read has alt=$alt")
    }
    var sink = 0L
    val cigarNs = time { utf.foreach { r => sink += CigarWalk.coveredSegments(r._1, r._2, r._3).numElements() } }
    val mdNs = time { utf.foreach { r => sink += MdWalk.mismatches(r._1, r._3, r._4, r._5, r._6).numElements() } }

    val bam = s"$work/bam/s1.bam"
    // The BAM writer leaves one file, or a directory of shards.
    val bamPath = java.nio.file.Paths.get(bam)
    val bamFiles =
      if (!java.nio.file.Files.isDirectory(bamPath)) Array(bam)
      else java.nio.file.Files.list(bamPath).toArray.map(_.toString).filter(_.endsWith(".bam")).sorted
    val members = bamFiles.flatMap(graft.sources.PerfbenchAccess.bgzfMembers)
    val inflated = members.map(_._2.length.toLong).sum
    require(members.nonEmpty && new String(members.head._2.take(4), "ISO-8859-1") == "BAM\u0001",
      s"BGZF walk of $bam did not start with the BAM magic")
    val inflateNs = time { bamFiles.foreach(f => sink += graft.sources.PerfbenchAccess.bgzfMembers(f).size) }

    val raw = rows.iterator.map(_._5).mkString.getBytes("US-ASCII").grouped(1 << 16).toArray
    val enc = raw.map(b => RansNx16.encode(b, RansNx16.FlagOrder1))
    raw.indices.foreach(k => require(java.util.Arrays.equals(RansNx16.decode(enc(k)), raw(k)),
      s"rANS Nx16 round trip of block $k differs"))
    val ransNs = time { enc.foreach(b => sink += RansNx16.decode(b).length) }
    Map("functions.cigar_segments_ns" -> cigarNs / utf.length,
      "functions.md_walk_ns" -> mdNs / utf.length,
      "sources.bgzf_inflate_mb_s" -> inflated / 1048576.0 / (inflateNs / 1e9),
      "sources.rans_nx16_mb_s" -> raw.map(_.length.toLong).sum / 1048576.0 / (ransNs / 1e9))
  }
}
