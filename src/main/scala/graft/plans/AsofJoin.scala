package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{
  Ascending, Attribute, AttributeReference, AttributeSet, BoundReference,
  GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{
  ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.types.DataType

/** Fused as-of join — the tier-(c) custom-operator path (logical node →
  * strategy → physical merge), replacing [[graft.analytics.Joins.asof]]'s
  * union + carry-forward-window formulation where profiling shows the
  * union tax matters.
  *
  * WHY a physical operator: the union form must first widen BOTH inputs
  * to the union schema (every probe row ships `null` build columns,
  * every build row ships `null` probe columns) and then shuffles + sorts
  * the widened union as ONE dataset. The fused form shuffles each side
  * with its OWN schema and streams a per-partition merge, so
  *   - shuffled bytes drop (AsofProfile, deleted; source at commit
  *     d5abd67 — on the purchase/click shape, 50× events: 38.5 → 33.2 MB at 3 payload cols, 62.8 → 56.8 at
  *     9; wall 1.03 → 0.80 s / 0.88 → 0.69 s, stable at 10×/50×).
  *     Measured honestly: the RELATIVE byte gap stays ~1.1–1.2× and
  *     does NOT grow with payload width — lz4 compresses the union
  *     form's null slots almost away — so the ~1.3× wall win comes
  *     mostly from the split sorts and from dropping the window
  *     operator, not from raw bytes; and
  *   - the sort cost splits into two smaller sorts (n·log n + m·log m
  *     < (n+m)·log(n+m)), each of which AQE can also skip entirely when
  *     a side arrives pre-sorted — impossible for the union, whose sort
  *     key includes the synthetic side tag.
  *
  * Semantics (identical to Joins.asof, oracle-gated vs DuckDB ASOF
  * JOIN's `>=`): each probe row is annotated with the build row having
  * the greatest `buildTs` ≤ the probe's ts within the same key (keys
  * may be composite); ties at the exact timestamp are visible; no
  * preceding build row → nulls. Both inputs are hash-clustered on the
  * keys and sorted (keys..., ts) by EnsureRequirements — the standard
  * SMJ machinery, so AQE, reuse, and whole-stage codegen of the
  * CHILDREN all still apply; only the merge itself is interpreted (one
  * comparison + one projection per row).
  */
case class AsofJoinNode(
    probe: LogicalPlan,
    build: LogicalPlan,
    probeKeys: Seq[Attribute], probeTs: Attribute,
    buildKeys: Seq[Attribute], buildTs: Attribute,
    payload: Seq[Attribute],
    matchedOut: Seq[AttributeReference])
  extends BinaryNode {
  require(probeKeys.nonEmpty && probeKeys.size == buildKeys.size,
    "asof: probe/build key lists must be non-empty and same-length")
  override def left: LogicalPlan = probe
  override def right: LogicalPlan = build
  override def output: Seq[Attribute] = probe.output ++ matchedOut
  // matchedOut are created HERE, not read from children — without this,
  // missingInput would flag them and the analyzer would reject the plan
  override def producedAttributes: AttributeSet = AttributeSet(matchedOut)
  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsofJoinNode =
    copy(probe = newLeft, build = newRight)
}

/** Plans [[AsofJoinNode]] as [[AsofJoinExec]]; injected via
  * `SparkSessionExtensions.injectPlannerStrategy` (GraftFunctions.register).
  */
object AsofJoinStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: AsofJoinNode =>
      AsofJoinExec(n.probeKeys, n.probeTs, n.buildKeys, n.buildTs,
        n.payload, n.matchedOut, planLater(n.probe), planLater(n.build)) :: Nil
    case _ => Nil
  }
}

case class AsofJoinExec(
    probeKeys: Seq[Attribute], probeTs: Attribute,
    buildKeys: Seq[Attribute], buildTs: Attribute,
    payload: Seq[Attribute], matchedOut: Seq[AttributeReference],
    left: SparkPlan, right: SparkPlan) extends BinaryExecNode {

  override def output: Seq[Attribute] = left.output ++ matchedOut

  // same-key hash clustering on both sides; EnsureRequirements makes the
  // two hash partitionings compatible (same mechanics as a sort-merge
  // join), so zipPartitions below sees co-partitioned iterators
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(probeKeys) :: ClusteredDistribution(buildKeys) :: Nil
  override def requiredChildOrdering: Seq[Seq[SortOrder]] = Seq(
    probeKeys.map(SortOrder(_, Ascending)) :+ SortOrder(probeTs, Ascending),
    buildKeys.map(SortOrder(_, Ascending)) :+ SortOrder(buildTs, Ascending))
  // probe rows pass through in order, partitioning and ordering survive —
  // downstream per-key operators reuse the exchange and the sort
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] =
    probeKeys.map(SortOrder(_, Ascending)) :+ SortOrder(probeTs, Ascending)

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsofJoinExec =
    copy(left = newLeft, right = newRight)

  override protected def doExecute(): RDD[InternalRow] = {
    val pOut = left.output
    val bOut = right.output
    def idx(out: Seq[Attribute], a: Attribute): Int = {
      val i = out.indexWhere(_.exprId == a.exprId)
      require(i >= 0, s"asof: attribute $a not found in child output")
      i
    }
    val pKeyIdx = probeKeys.map(idx(pOut, _)).toArray
    val bKeyIdx = buildKeys.map(idx(bOut, _)).toArray
    val pTsIdx = idx(pOut, probeTs)
    val bTsIdx = idx(bOut, buildTs)
    val keyDts = probeKeys.map(_.dataType).toArray
    val tsDt = probeTs.dataType
    val nP = pOut.size
    val bArity = bOut.size
    // output projection over the joined (probe ++ build) row; build-side
    // references are bound nullable=true — a non-null-skipping write of
    // the all-null no-match row would silently turn nulls into zeros
    val projExprs =
      pOut.zipWithIndex.map { case (a, i) =>
        BoundReference(i, a.dataType, a.nullable) } ++
        (bTsIdx +: payload.map(a => idx(bOut, a)))
          .map(i => BoundReference(nP + i, bOut(i).dataType, nullable = true))

    left.execute().zipPartitions(right.execute()) { (pIter, bIter) =>
      new AsofMergeIterator(pIter, bIter, pKeyIdx, pTsIdx, bKeyIdx, bTsIdx,
        keyDts, tsDt, bArity, UnsafeProjection.create(
        scala.collection.immutable.ArraySeq.unsafeWrapArray(projExprs.toArray)))
    }
  }
}

/** Per-partition streaming merge: both iterators arrive sorted by
  * (keys..., ts). For each probe row, the build side is advanced while
  * its (keys, ts) is ≤ the probe frontier, remembering a copy of the
  * last build row consumed; build rows whose key has already passed the
  * probe frontier can never match a later probe row (keys ascend on
  * both sides) and are discarded. O(n + m) comparisons, one remembered
  * row of state — the textbook merge as-of (the same shape DuckDB's
  * ASOF and pandas merge_asof execute single-node).
  *
  * Nulls order first (matching the SortOrder above), so a null-ts build
  * row behaves as "earliest" and a null-key group joins within itself —
  * the same row sets the window formulation produces.
  */
private[plans] final class AsofMergeIterator(
    pIter: Iterator[InternalRow], bIter: Iterator[InternalRow],
    pKeyIdx: Array[Int], pTsIdx: Int, bKeyIdx: Array[Int], bTsIdx: Int,
    keyDts: Array[DataType], tsDt: DataType,
    buildArity: Int, proj: UnsafeProjection) extends Iterator[InternalRow] {

  private val keyOrds = keyDts.map(TypeUtils.getInterpretedOrdering)
  private val tsOrd = TypeUtils.getInterpretedOrdering(tsDt)
  private val nullBuild = new GenericInternalRow(buildArity)
  private val joined = new JoinedRow
  private var bHead: InternalRow = _   // next unconsumed build row
  private var lastMatch: InternalRow = _ // copy: latest build row ≤ frontier

  private def cmp(a: Any, b: Any, ord: Ordering[Any]): Int =
    if (a == null && b == null) 0
    else if (a == null) -1
    else if (b == null) 1
    else ord.compare(a, b)

  // lexicographic composite-key comparison, nulls first per column
  private def cmpKeys(b: InternalRow, bIdx: Array[Int],
                      p: InternalRow, pIdx: Array[Int]): Int = {
    var i = 0
    while (i < keyOrds.length) {
      val c = cmp(b.get(bIdx(i), keyDts(i)), p.get(pIdx(i), keyDts(i)),
        keyOrds(i))
      if (c != 0) return c
      i += 1
    }
    0
  }

  override def hasNext: Boolean = pIter.hasNext

  override def next(): InternalRow = {
    val p = pIter.next()
    val pts = p.get(pTsIdx, tsDt)
    var done = false
    while (!done) {
      if (bHead == null && bIter.hasNext) bHead = bIter.next()
      if (bHead == null) done = true
      else {
        val c = cmpKeys(bHead, bKeyIdx, p, pKeyIdx)
        if (c < 0) bHead = null // key already passed: can never match again
        else if (c == 0 && cmp(bHead.get(bTsIdx, tsDt), pts, tsOrd) <= 0) {
          lastMatch = bHead.copy() // copy: unsafe row buffers are reused
          bHead = null
        } else done = true // same key in the future, or a later key
      }
    }
    val matched = lastMatch != null &&
      cmpKeys(lastMatch, bKeyIdx, p, pKeyIdx) == 0
    proj(joined(p, if (matched) lastMatch else nullBuild))
  }
}
