package graft.plans

import graft.operators.{IntervalForest, IntervalForestFactory, IntervalHolder, IntervalHolderFactory}

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, GenerateUnsafeProjection}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, JoinType, LeftAnti, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, CodegenSupport, SparkPlan}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}

import scala.collection.mutable

sealed trait IntervalJoinMode
case object BroadcastForestMode extends IntervalJoinMode
case object BinRangeMode extends IntervalJoinMode

/** Physical interval join with two scale regimes.
  *
  * '''BroadcastForestMode''' — the build side is projected to
  * `(eqKey, start, end, row)`, assembled into a per-key
  * [[graft.operators.IntervalForest]] and broadcast; the stream side probes
  * it per partition — **no shuffle** of either side. That is the property
  * that makes this beat a shuffle or nested-loop join by ~an order of
  * magnitude at scale (SURVEY §6): the 100 TB side streams through untouched
  * while only the small annotation side moves.
  *
  * '''BinRangeMode''' — non-inner joins whose build side is too large to
  * broadcast (an inner join at that scale plans as [[BinRangeRewrite]], a
  * stock equi-join). Both sides are replicated to the fixed-width genome
  * bins their interval overlaps and cogrouped on `(eqKey, bin)`; each bin
  * builds a local forest from its build intervals and probes its stream
  * intervals. A pair whose intersection spans several bins is emitted only
  * from the first bin of the intersection, so output is exactly-once
  * without any dedup shuffle. Whether a row matched is a property of all
  * its replicas, so per-bin verdicts aggregate by row id. Nothing is
  * collected to the driver and nothing is persisted, so the join is
  * deterministic under task retry.
  *
  * Every interpreted probe — broadcast inner, semi, anti and outer, both
  * full-outer passes, both bin-range passes — goes through [[JoinTask]]:
  * one projection of a row's key and interval ([[KeyInterval]]) and one
  * candidate test ([[Probe.foreachMatch]]).
  *
  * Re-expression of the reference's
  * `IntervalTreeJoinOptimChromosome{,Impl}.scala` (see SURVEY §2.3 J1-J7):
  *  - minOverlap: emitted pair needs `min(e1,e2)-max(s1,s2)+1 >= minOverlap`
  *    (`IntervalTreeJoinOptimChromosomeImpl.scala:110-117`). Applied only
  *    when `minOverlap > 1`: for the default the forest emission condition
  *    `be >= qs && bs <= qe` is *exactly* the matched join predicate, and the
  *    overlap-length form would silently drop degenerate (start > end) rows
  *    that stock Spark keeps.
  *  - maxGap: build intervals widened ±gap before insertion (`:82-87`);
  *
  * Unlike the reference (which runs `count()` jobs to pick the build side,
  * `IntervalTreeJoinOptimChromosome.scala:72-88`), the side and mode are
  * chosen at *planning* time from Catalyst statistics — no extra Spark jobs.
  */
case class IntervalForestJoinExec(
    keys: IntervalJoinKeys,
    buildLeft: Boolean,
    mode: IntervalJoinMode,
    minOverlap: Int,
    maxGap: Int,
    binWidth: Int,
    holderClass: String,
    joinType: JoinType,
    residual: Option[Expression],
    left: SparkPlan,
    right: SparkPlan,
    // True only when the broadcast decision came from Catalyst STATS
    // (auto method, no user hint): the runtime build-budget guard then
    // protects against a stats lie. A broadcast hint or an explicit
    // method=broadcast conf is the user taking responsibility — standard
    // Spark hint semantics — so the guard stands down.
    enforceBuildBudget: Boolean = true) extends BinaryExecNode with CodegenSupport {

  // For one-sided non-inner types the preserved side is always the stream
  // side (the strategy builds right for Left*, left for RightOuter), so
  // unmatched stream rows are emitted locally with no global matched-set
  // tracking — the restriction Spark's own BroadcastHashJoinExec imposes.
  // FullOuter also tracks matched build rows globally: a bitset side-job
  // in broadcast mode, build-row verdicts in bin-range mode — one plan
  // node that scans each child once per pass.
  override def output: Seq[Attribute] = joinType match {
    case Inner => left.output ++ right.output
    case LeftOuter => left.output ++ right.output.map(_.withNullability(true))
    case RightOuter => left.output.map(_.withNullability(true)) ++ right.output
    case FullOuter =>
      left.output.map(_.withNullability(true)) ++ right.output.map(_.withNullability(true))
    case LeftSemi | LeftAnti => left.output
    case x => throw new IllegalArgumentException(s"IntervalForestJoinExec: unsupported join type $x")
  }

  @transient private lazy val buildPlan = if (buildLeft) left else right
  @transient private lazy val streamedPlan = if (buildLeft) right else left

  // Key expressions of each role, bound to their side's output.
  @transient private lazy val (bStartB, bEndB, bEqsB) = {
    val (s, e, eqs) =
      if (buildLeft) (keys.leftStart, keys.leftEnd, keys.leftEqs)
      else (keys.rightStart, keys.rightEnd, keys.rightEqs)
    (bound(s, buildPlan), bound(e, buildPlan), eqs.map(bound(_, buildPlan)))
  }
  @transient private lazy val (sStartB, sEndB, sEqsB) = {
    val (s, e, eqs) =
      if (buildLeft) (keys.rightStart, keys.rightEnd, keys.rightEqs)
      else (keys.leftStart, keys.leftEnd, keys.leftEqs)
    (bound(s, streamedPlan), bound(e, streamedPlan), eqs.map(bound(_, streamedPlan)))
  }

  /** The join's settings, which task closures capture instead of the plan. */
  @transient private lazy val task = JoinTask(joinType, buildLeft, minOverlap, maxGap,
    binWidth, residual, left.output ++ right.output, output, buildPlan.output.length,
    streamedPlan.output.length, bEqsB, Seq(bStartB, bEndB), sEqsB, Seq(sStartB, sEndB),
    longMetric("numOutputRows"), longMetric("buildRows"))

  /** The build side collected to the driver as `(key, start, end, row)`,
    * counted in `buildRows` and held to the broadcast budget. A row that
    * can never match is kept, with a null key, only if `keepUnmatchable`
    * (full outer preserves it). */
  private def collectBuild(keepUnmatchable: Boolean): Array[(UnsafeRow, Int, Int, InternalRow)] = {
    val t = task
    val collected = buildPlan.execute().mapPartitions { it =>
      val kv = t.keyInterval(build = true)
      it.flatMap { row =>
        if (kv(row)) Iterator.single((kv.key.copy(), kv.start, kv.end, row.copy()))
        else if (keepUnmatchable) Iterator.single((null: UnsafeRow, 0, 0, row.copy()))
        else Iterator.empty
      }
    }.collect()
    longMetric("buildRows") += collected.length
    if (enforceBuildBudget) BroadcastBudget.checkCollected(conf, collected,
      "Either raise the budget if the cluster can hold the broadcast, force the side " +
        "with a broadcast() hint to take responsibility, or set " +
        "spark.graft.rangejoin.method=binrange to take the shuffle path.")
    collected
  }

  /** Per-key holders of the matchable build rows, broadcast once and shared
    * by the interpreted and codegen probes. The structure is whatever the
    * configured holder factory builds (the reference's
    * `intervalHolderClassName`); full outer and bin-range mode use the
    * array forest, whose payload they choose. */
  @transient private lazy val broadcastForests
      : Broadcast[Map[UnsafeRow, IntervalHolder[InternalRow]]] =
    sparkContext.broadcast(IntervalHolderFactory.forName(holderClass)
      .build[UnsafeRow, InternalRow](collectBuild(keepUnmatchable = false), maxGap))

  // Broadcast mode probes per-partition over the unshuffled stream side, so
  // the stream partitioning survives — except full outer, whose output is
  // a union with the driver-parallelized unmatched-build rows. Bin mode's
  // output comes out of a cogroup shuffle on (key, bin) — claiming anything
  // stronger would let EnsureRequirements elide a needed exchange above.
  override def outputPartitioning: Partitioning = mode match {
    case BroadcastForestMode if joinType != FullOuter =>
      if (buildLeft) right.outputPartitioning else left.outputPartitioning
    case _ => UnknownPartitioning(0)
  }

  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "buildRows" -> SQLMetrics.createMetric(sparkContext, "build side rows"))

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): SparkPlan =
    copy(left = newLeft, right = newRight)

  private def bound(e: Expression, plan: SparkPlan): Expression =
    BindReferences.bindReference(e, plan.output)

  override protected def doExecute(): RDD[InternalRow] = (mode, joinType) match {
    case (BroadcastForestMode, FullOuter) => broadcastFullOuter()
    case (BroadcastForestMode, _) =>
      task.probeStream(streamedPlan.execute(), broadcastForests, identity[InternalRow])
    case (BinRangeMode, Inner) =>
      throw new IllegalStateException("inner bin-range joins plan as BinRangeRewrite")
    case (BinRangeMode, _) => binRange()
  }

  /** Full outer over the broadcast forest, shaped like Spark's own
    * BroadcastNestedLoopJoinExec full outer: (1) the build side is
    * collected once, unmatchable rows included, and its forest payloads
    * carry the build-row index; (2) a probe-only side job over the stream
    * side ORs up the matched-build bitset; (3) the main pass is the
    * one-sided outer probe; (4) unmatched build rows null-pad from the
    * driver — the build side is broadcast-small by mode selection. */
  private def broadcastFullOuter(): RDD[InternalRow] = {
    val collected = collectBuild(keepUnmatchable = true)
    val forests: Map[UnsafeRow, IntervalHolder[(InternalRow, Int)]] = IntervalForest.forest(
      collected.iterator.zipWithIndex.collect {
        case ((k, s, e, r), i) if k != null => (k, s, e, (r, i))
      }, maxGap)
    val bcast = sparkContext.broadcast(forests)
    val rowOf = (v: (InternalRow, Int)) => v._1
    val t = task
    val nBuild = collected.length
    val matched = streamedPlan.execute().mapPartitionsWithIndex { (pidx, it) =>
      val kv = t.keyInterval(build = false)
      val p = new Probe(t, pidx)
      val holders = bcast.value
      val bits = new java.util.BitSet(nBuild)
      it.foreach { srow =>
        if (kv(srow)) holders.get(kv.key).foreach { h =>
          p.foreachMatch(h, kv.start, kv.end, srow, rowOf)(v => bits.set(v._2))
        }
      }
      Iterator.single(bits)
    }.fold(new java.util.BitSet(nBuild)) { (a, b) => a.or(b); a }
    val unmatched = collected.indices.collect { case i if !matched.get(i) => collected(i)._4 }
    val padded = sparkContext
      .parallelize(unmatched, math.max(1, math.min(
        conf.numShufflePartitions, 1 + unmatched.length / 65536)))
      .mapPartitionsWithIndex { (pidx, it) =>
        val p = new Probe(t, pidx)
        it.map(p.unmatchedBuild)
      }
    t.probeStream(streamedPlan.execute(), bcast, rowOf).union(padded)
  }

  /** Outer, semi, anti and full outer at shuffle scale, over one cogroup
    * of both sides' bin replicas. Matched pairs never ride the verdict
    * shuffle: they stream straight out of the cogroup (pass 1), so a
    * whole-chromosome stream interval overlapping millions of build rows
    * never concatenates its matches into one record. The verdict shuffle
    * (pass 2) carries only `(id, row, matched)`:
    *   semi — only matched stream replicas enter it, deduplicated by id;
    *   anti, outer — every stream replica reports; OR-reduce by id, and
    *     the never-matched are emitted bare (anti) or null-padded (outer);
    *   full — build replicas report too; unmatched build ids null-pad.
    * Both passes read the same cogroup, so the map stages run once and
    * only the reduce side runs twice. */
  private def binRange(): RDD[InternalRow] = {
    val t = task
    val numParts = conf.numShufflePartitions
    val cg = t.binned(buildPlan.execute(), build = true)
      .cogroup(t.binned(streamedPlan.execute(), build = false), numParts)
    val rowOf = (v: (Long, InternalRow)) => v._2

    def pairRows: RDD[InternalRow] = cg.mapPartitionsWithIndex { (pidx, groups) =>
      val p = new Probe(t, pidx)
      groups.flatMap { case ((_, bin), (buildRows, streamRows)) =>
        if (bin == JoinTask.NoBin || buildRows.isEmpty || streamRows.isEmpty) Iterator.empty
        else {
          val forest = JoinTask.forestOf(buildRows)
          streamRows.iterator.flatMap { case (_, qs, qe, srow) =>
            val matches = mutable.ArrayBuffer.empty[InternalRow]
            p.foreachMatch(forest, qs, qe, srow, rowOf, bin)(v => matches += v._2)
            p.pairs(srow, matches.iterator)
          }
        }
      }
    }

    // Stream ids are even, build ids odd.
    val verdicts = cg.mapPartitionsWithIndex { (pidx, groups) =>
      val p = new Probe(t, pidx)
      groups.flatMap { case ((_, bin), (buildRows, streamRows)) =>
        val out = mutable.ArrayBuffer.empty[(Long, (InternalRow, Boolean))]
        val forest =
          if (bin == JoinTask.NoBin || buildRows.isEmpty) null else JoinTask.forestOf(buildRows)
        val matchedBids = mutable.HashSet.empty[Long]
        streamRows.foreach { case (id, qs, qe, srow) =>
          var matched = false
          if (forest != null) p.foreachMatch(forest, qs, qe, srow, rowOf) { v =>
            matched = true
            if (t.joinType == FullOuter) matchedBids += v._1
          }
          if (matched || t.joinType != LeftSemi) out += ((id << 1, (srow, matched)))
        }
        if (t.joinType == FullOuter) buildRows.foreach { case (bid, _, _, brow) =>
          out += (((bid << 1) | 1L, (brow, matchedBids.contains(bid))))
        }
        out.iterator
      }
    }

    val preserved = verdicts
      .reduceByKey((a, b) => (a._1, a._2 || b._2), numParts)
      .mapPartitionsWithIndex { (pidx, it) =>
        val p = new Probe(t, pidx)
        it.flatMap { case (id, (row, matched)) =>
          if ((id & 1L) == 0L) p.preserved(row, matched)
          else if (matched) Iterator.empty
          else Iterator.single(p.unmatchedBuild(row))
        }
      }

    joinType match {
      case LeftSemi | LeftAnti => preserved
      case _ => pairRows.union(preserved)
    }
  }

  // ---------------------------------------------------------------- codegen
  //
  // Whole-stage codegen for the broadcast probe (the hot path: runs once per
  // row of the 100 TB stream side). The stream child produces; this node
  // consumes each row inline — key + interval exprs evaluated as generated
  // expressions, an [[graft.operators.IntervalForestCursor]] drives the
  // forest traversal as a flat `while` loop, and matched build rows flow
  // straight into the parent's generated consume. Compared with the
  // interpreted path this removes the iterator boundary between the scan
  // and the join, the per-row UnsafeProjections, and the per-probe match
  // buffer, and lets a downstream aggregate fuse into the same stage.
  // Bin-range mode and custom interval holders keep the interpreted path
  // (a holder only promises a callback API; the cursor needs the array
  // forest).
  //
  // LeftSemi/LeftAnti/LeftOuter/RightOuter codegen too: the stream-side
  // probe is the 100 TB hot loop for existence filters and preserved-side
  // joins just as for Inner. Semi emits on the FIRST cursor hit (no full
  // match enumeration); anti emits when the cursor is empty, including the
  // null-interval/null-key/absent-contig rows the interpreted path
  // preserves; one-sided outer streams the preserved side and pads a null
  // build row for match-less stream rows (Spark's own BroadcastHashJoin
  // outer-codegen loop shape — build columns read through a
  // `matched == null` guard). Residual-carrying non-inner joins stay
  // interpreted: the residual decides matched-ness per candidate pair
  // inside the loop. FullOuter keeps the interpreted path (its
  // unmatched-build pad is a separate driver phase, not a probe shape).

  override def supportCodegen: Boolean =
    (joinType == Inner ||
      ((joinType == LeftSemi || joinType == LeftAnti ||
        joinType == LeftOuter || joinType == RightOuter) && residual.isEmpty)) &&
      mode == BroadcastForestMode &&
      holderClass == classOf[IntervalForestFactory].getName

  override def inputRDDs(): Seq[RDD[InternalRow]] =
    streamedPlan.asInstanceOf[CodegenSupport].inputRDDs()

  override protected def doProduce(ctx: CodegenContext): String =
    streamedPlan.asInstanceOf[CodegenSupport].produce(ctx, this)

  // Every probe can emit many rows referencing the same buffers.
  override def needCopyResult: Boolean = true

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    // Evaluate all stream-side columns up front: they are referenced both
    // by the key expressions and (possibly) inside the match loop, and a
    // deferred evaluation inside a conditional scope would be unreachable
    // from the loop body.
    val evalInput = evaluateVariables(input)
    ctx.currentVars = input
    val sStartEv = sStartB.genCode(ctx)
    val sEndEv = sEndB.genCode(ctx)
    val keyEv = GenerateUnsafeProjection.createCode(ctx, sEqsB)
    val keyNull = if (sEqsB.nonEmpty) s"${keyEv.value}.anyNull()" else "false"

    val bcastTerm = ctx.addReferenceObj("forestBcast", broadcastForests)
    val mapTerm = ctx.addMutableState("scala.collection.immutable.Map", "forestMap",
      v => s"$v = (scala.collection.immutable.Map) $bcastTerm.value();")
    val cursorTerm = ctx.addMutableState(
      "graft.operators.IntervalForestCursor", "forestCursor",
      v => s"$v = new graft.operators.IntervalForestCursor();")
    val forest = ctx.freshName("forest")
    val matched = ctx.freshName("buildRow")
    val numOutput = metricTerm(ctx, "numOutputRows")

    val lookup =
      s"""
         |$evalInput
         |${sStartEv.code}
         |${sEndEv.code}
         |${keyEv.code}
         |graft.operators.IntervalForest $forest = null;
         |if (!(${sStartEv.isNull}) && !(${sEndEv.isNull}) && !($keyNull)) {
         |  $forest = graft.plans.IntervalForestJoinExec.lookup($mapTerm, ${keyEv.value});
         |}
       """.stripMargin

    joinType match {
      case LeftSemi =>
        // Existence test: the first cursor hit emits the stream row and
        // stops — no match enumeration at all.
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  if ($cursorTerm.advance()) {
           |    $numOutput.add(1);
           |    ${consume(ctx, input)}
           |  }
           |}
         """.stripMargin
      case LeftAnti =>
        // Absence test: null interval/key and absent contig rows have no
        // matches by construction ($forest stays null) and are emitted —
        // same preservation as the interpreted path.
        val found = ctx.freshName("found")
        s"""
           |$lookup
           |boolean $found = false;
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  $found = $cursorTerm.advance();
           |}
           |if (!$found) {
           |  $numOutput.add(1);
           |  ${consume(ctx, input)}
           |}
         """.stripMargin
      case LeftOuter | RightOuter =>
        // Preserved side streams (the stream child IS the preserved side —
        // RangeJoinChoice pins the build side opposite it). Loop shape is
        // BroadcastHashJoinExec's codegenOuter: iterate matches; a
        // match-less row takes exactly one pass with `matched == null`,
        // reading every build column through a null guard.
        import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, JavaCode}
        import org.apache.spark.sql.catalyst.expressions.codegen.Block._
        val matchedTerm = ctx.addMutableState("InternalRow", "outerMatched")
        val buildVars = buildPlan.output.zipWithIndex.map { case (a, i) =>
          val isNull = ctx.freshName("bIsNull")
          val value = ctx.freshName("bValue")
          val jt = CodeGenerator.javaType(a.dataType)
          val rowVal = CodeGenerator.getValue(matchedTerm, a.dataType, i.toString)
          val c =
            code"""
               |boolean $isNull = $matchedTerm == null || $matchedTerm.isNullAt($i);
               |$jt $value = $isNull ? ${CodeGenerator.defaultValue(a.dataType)} : ($rowVal);
             """.stripMargin
          ExprCode(c, JavaCode.isNullVariable(isNull), JavaCode.variable(value, a.dataType))
        }
        val resultVars = if (buildLeft) buildVars ++ input else input ++ buildVars
        val found = ctx.freshName("found")
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |}
           |boolean $found = false;
           |while (true) {
           |  $matchedTerm = ($forest != null && $cursorTerm.advance())
           |    ? (InternalRow) $cursorTerm.value() : null;
           |  if ($matchedTerm == null && $found) break;
           |  $found = true;
           |  $numOutput.add(1);
           |  ${consume(ctx, resultVars)}
           |  if ($matchedTerm == null) break;
           |}
         """.stripMargin
      case _ => // Inner
        // Build-side output columns read from the matched row inside the
        // loop.
        ctx.INPUT_ROW = matched
        ctx.currentVars = null
        val buildVars = buildPlan.output.zipWithIndex.map { case (a, i) =>
          BoundReference(i, a.dataType, a.nullable).genCode(ctx)
        }
        val resultVars = if (buildLeft) buildVars ++ input else input ++ buildVars
        s"""
           |$lookup
           |if ($forest != null) {
           |  $cursorTerm.reset($forest, ${sStartEv.value}, ${sEndEv.value}, $minOverlap);
           |  while ($cursorTerm.advance()) {
           |    InternalRow $matched = (InternalRow) $cursorTerm.value();
           |    $numOutput.add(1);
           |    ${consume(ctx, resultVars)}
           |  }
           |}
         """.stripMargin
    }
  }
}

object IntervalForestJoinExec {
  /** Codegen helper: holder lookup returning the array forest or null
    * (called through the companion's static forwarder from generated Java;
    * Scala `Map.getOrElse` isn't callable from Java directly). */
  def lookup(
      map: Map[UnsafeRow, IntervalHolder[InternalRow]],
      key: UnsafeRow): IntervalForest[InternalRow] =
    map.getOrElse(key, null) match {
      case f: IntervalForest[InternalRow @unchecked] => f
      case _ => null
    }
}

/** What the tasks of an [[IntervalForestJoinExec]] need: bound key and
  * interval expressions of both sides and the join's settings. Task
  * closures capture this instead of the plan node. */
private[plans] final case class JoinTask(
    joinType: JoinType,
    buildIsLeft: Boolean,
    minOverlap: Int,
    maxGap: Int,
    binWidth: Int,
    residual: Option[Expression],
    pairAttrs: Seq[Attribute],
    outAttrs: Seq[Attribute],
    nBuildCols: Int,
    nStreamCols: Int,
    buildEqs: Seq[Expression],
    buildIv: Seq[Expression],
    streamEqs: Seq[Expression],
    streamIv: Seq[Expression],
    numOutputRows: SQLMetric,
    buildRows: SQLMetric) {

  def keyInterval(build: Boolean): KeyInterval =
    if (build) new KeyInterval(buildEqs, buildIv) else new KeyInterval(streamEqs, streamIv)

  /** Probes every stream row against broadcast per-key holders: inner
    * pairs, semi/anti existence, or one-sided outer (the stream side is
    * the preserved side) — also full outer's main pass, whose payload
    * carries the build-row index beside the row. */
  def probeStream[V](stream: RDD[InternalRow],
      bcast: Broadcast[Map[UnsafeRow, IntervalHolder[V]]],
      rowOf: V => InternalRow): RDD[InternalRow] =
    stream.mapPartitionsWithIndex { (pidx, it) =>
      val kv = keyInterval(build = false)
      val p = new Probe(this, pidx)
      val holders = bcast.value
      val emitsPairs = joinType != LeftSemi && joinType != LeftAnti
      it.flatMap { srow =>
        val matches = mutable.ArrayBuffer.empty[InternalRow]
        if (kv(srow)) holders.get(kv.key).foreach { h =>
          p.foreachMatch(h, kv.start, kv.end, srow, rowOf)(v => matches += rowOf(v))
        }
        (if (emitsPairs) p.pairs(srow, matches.iterator) else Iterator.empty[InternalRow]) ++
          p.preserved(srow, matches.nonEmpty)
      }
    }

  /** Replicates each row to every bin its interval (the build side's
    * widened by maxGap) overlaps, keyed by `(eqKey, bin)` and tagged with a
    * unique id (zipWithUniqueId: no extra job). A row that can never match
    * goes once to [[JoinTask.NoBin]] if the join preserves it — every
    * stream row, and build rows of a full outer join — else it is dropped.
    * Build rows are counted in `buildRows` once, before replication. */
  def binned(rows: RDD[InternalRow], build: Boolean)
      : RDD[((UnsafeRow, Int), (Long, Int, Int, InternalRow))] = {
    val widen = if (build) maxGap else 0
    val keep = !build || joinType == FullOuter
    rows.zipWithUniqueId().mapPartitions { it =>
      val kv = keyInterval(build)
      it.flatMap { case (row, id) =>
        if (kv(row)) {
          if (build) buildRows += 1
          val (s, e) = (kv.start - widen, kv.end + widen)
          val (k, copy) = (kv.key.copy(), row.copy())
          (Math.floorDiv(math.min(s, e), binWidth) to Math.floorDiv(math.max(s, e), binWidth))
            .iterator.map(b => ((k, b), (id, s, e, copy)))
        } else if (keep) {
          if (build) buildRows += 1
          Iterator.single(((kv.key.copy(), JoinTask.NoBin), (id, 0, 0, row.copy())))
        } else Iterator.empty
      }
    }
  }
}

private[plans] object JoinTask {
  /** Not a genome bin: the group of rows that can never match, and the
    * `bin` argument of a probe that needs no first-bin test. */
  val NoBin: Int = Int.MinValue

  /** A bin's local forest over its build replicas, payload `(id, row)`;
    * maxGap widening was applied at replication. */
  def forestOf(build: Iterable[(Long, Int, Int, InternalRow)]): IntervalForest[(Long, InternalRow)] =
    IntervalForest(build.map { case (id, s, e, r) => (s, e, (id, r)) }.toIndexedSeq)
}

/** Projects a row's equality key and interval. `apply` says whether the
  * row can match at all: a null bound or a null key never satisfies the
  * join predicate. `key` is set either way (and reused by the next call);
  * `start` and `end` only for a row that can match. */
private[plans] final class KeyInterval(eqs: Seq[Expression], iv: Seq[Expression]) {
  private val keyProj = UnsafeProjection.create(eqs)
  private val ivProj = UnsafeProjection.create(iv)
  var key: UnsafeRow = _
  var start = 0
  var end = 0

  def apply(row: InternalRow): Boolean = {
    key = keyProj(row)
    val bounds = ivProj(row)
    if (bounds.isNullAt(0) || bounds.isNullAt(1) || key.anyNull) false
    else {
      start = bounds.getInt(0)
      end = bounds.getInt(1)
      true
    }
  }
}

/** One partition's probe state: the candidate test and the output rows. */
private[plans] final class Probe(t: JoinTask, partitionIndex: Int) {
  private val joined = new JoinedRow
  private val project = UnsafeProjection.create(t.outAttrs, t.outAttrs)
  private val residual = t.residual.map { r =>
    val pred = Predicate.create(r, t.pairAttrs)
    pred.initialize(partitionIndex)
    pred
  }
  private val nullBuild = new GenericInternalRow(t.nBuildCols)
  private val nullStream = new GenericInternalRow(t.nStreamCols)

  /** Candidate pairs are always assembled in (left, right) order. */
  private def pair(brow: InternalRow, srow: InternalRow): InternalRow =
    if (t.buildIsLeft) joined(brow, srow) else joined(srow, brow)

  private def emit(row: InternalRow): InternalRow = {
    t.numOutputRows += 1
    project(row)
  }

  /** Calls `f` on each value of `holder` whose interval overlaps
    * `[qs, qe]` by at least minOverlap and whose pair with `srow` passes
    * the residual. Unless `bin` is [[JoinTask.NoBin]], the pair must also
    * have its intersection start in `bin`, so a pair seen in several bins
    * is emitted from one. */
  def foreachMatch[V](holder: IntervalHolder[V], qs: Int, qe: Int, srow: InternalRow,
      rowOf: V => InternalRow, bin: Int = JoinTask.NoBin)(f: V => Unit): Unit =
    holder.foreachOverlap(qs, qe) { (bs, be, v) =>
      if ((t.minOverlap <= 1 || math.min(be, qe) - math.max(bs, qs) + 1 >= t.minOverlap) &&
          (bin == JoinTask.NoBin ||
            Math.floorDiv(math.max(math.min(bs, be), math.min(qs, qe)), t.binWidth) == bin) &&
          residual.forall(_.eval(pair(rowOf(v), srow))))
        f(v)
    }

  def pairs(srow: InternalRow, matches: Iterator[InternalRow]): Iterator[InternalRow] =
    matches.map(brow => emit(pair(brow, srow)))

  /** What a stream row yields beyond its pairs: itself for semi (matched)
    * and anti (unmatched), null-padded when an outer join left it
    * unmatched. */
  def preserved(srow: InternalRow, matched: Boolean): Iterator[InternalRow] = t.joinType match {
    case Inner => Iterator.empty
    case LeftSemi => if (matched) Iterator.single(emit(srow)) else Iterator.empty
    case LeftAnti => if (matched) Iterator.empty else Iterator.single(emit(srow))
    case _ => if (matched) Iterator.empty else Iterator.single(emit(pair(nullBuild, srow)))
  }

  /** A full outer join's unmatched build row, null-padded. */
  def unmatchedBuild(brow: InternalRow): InternalRow = emit(pair(brow, nullStream))
}
