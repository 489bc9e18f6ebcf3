package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, Descending, Expression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}

/** A complete custom WHOLE-OPERATOR stack — logical node, planner strategy,
  * physical operator — for "top k rows per key", the third extension tier
  * from SURVEY §7.1 after composed built-ins and custom expressions.
  *
  * Why Spark's built-ins aren't enough: the idiomatic
  * `row_number().over(Window.partitionBy(keys).orderBy(ord)) <= k` plans a
  * shuffle PLUS a full per-partition SORT of every row plus a rank
  * projection, then discards all but k rows per key. At 100 TB the sort of
  * the discarded 99.9% dominates. [[TopKPerKeyExec]] declares the same
  * `ClusteredDistribution` (so EnsureRequirements plans the one required
  * hash exchange) but replaces sort+rank with a single streaming pass
  * holding a bounded heap per key: time O(n log k) with no sort buffer.
  *
  * MEMORY BOUND: the in-memory state is at most `maxKeys` keys × (k row
  * copies + heap/map overhead) — with the default cap of 2^20 keys, k = 10
  * and 100-byte rows that is ~1 GB worst case; size `maxKeys` to the
  * executor when rows are wider. When a partition holds MORE distinct keys
  * than `maxKeys`, the operator does NOT grow (the failure mode the window
  * idiom survives by spilling its sort): rows of keys first seen after the
  * cap is reached are spilled RAW to a local temp file, and the file is
  * re-processed with a fresh bounded map after the in-map keys emit. A key
  * is either fully heap-processed in some pass or fully deferred to a later
  * one (admission happens only on first sight), so each pass completes
  * ≥ maxKeys keys exactly and the recursion terminates in
  * ⌈distinctKeys / maxKeys⌉ passes — memory stays O(maxKeys × k) while
  * extra I/O is paid only by the overflow tail (zero spill on the normal
  * path).
  */
final case class TopKPerKeyNode(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxKeys: Int,
    child: LogicalPlan) extends UnaryNode {
  require(k > 0, s"k must be positive, got $k")
  require(maxKeys > 0, s"maxKeys must be positive, got $maxKeys")
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(newChild: LogicalPlan): TopKPerKeyNode =
    copy(child = newChild)
}

/** Planner rule: the logical node plans as PARTIAL + FINAL — a map-side
  * bounded-heap pass before the exchange (top-k is mergeable: the global
  * top-k of a key is a subset of every partition's local per-key top-k), so
  * shuffle bytes drop to ≤ k rows per key per input task. This is the
  * heap-based analogue of the optimizer's WindowGroupLimit map-side prune,
  * without the sort the window idiom still pays afterwards.
  *
  * A `WindowGroupLimit` directly over a node with the same keys and order
  * and `k` ≤ its limit keeps every row (each key has at most k rows, all
  * ranked ≤ k), so it plans as the node alone. InferWindowGroupLimit puts
  * one there over every rank-carrying rewrite of [[TopKRewriteRule]].
  */
object TopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case n: TopKPerKeyNode => exec(n)
    case org.apache.spark.sql.catalyst.plans.logical.WindowGroupLimit(
        keys, order, _, limit, n: TopKPerKeyNode)
        if keys == n.keys && order == n.order && n.k <= limit => exec(n)
    case _ => Nil
  }

  private def exec(n: TopKPerKeyNode): Seq[SparkPlan] =
    TopKPerKeyExec(n.keys, n.order, n.k, n.maxKeys,
      TopKPerKeyExec(n.keys, n.order, n.k, n.maxKeys, planLater(n.child), partial = true)) :: Nil
}

final case class TopKPerKeyExec(
    keys: Seq[Expression],
    order: Seq[SortOrder],
    k: Int,
    maxKeys: Int,
    child: SparkPlan,
    partial: Boolean = false) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output

  override def nodeName: String =
    if (partial) "TopKPerKeyPartial" else "TopKPerKey"

  /** Final: all rows of a key must meet in one partition; EnsureRequirements
    * inserts the hash exchange (or reuses the child's partitioning when it
    * already clusters on the keys — e.g. a bucketed source). Partial: runs
    * wherever the child's rows already are.
    */
  override def requiredChildDistribution: Seq[Distribution] =
    if (partial) org.apache.spark.sql.catalyst.plans.physical.UnspecifiedDistribution :: Nil
    else ClusteredDistribution(keys) :: Nil

  override def outputPartitioning: Partitioning = child.outputPartitioning

  override protected def withNewChildInternal(newChild: SparkPlan): TopKPerKeyExec =
    copy(child = newChild)

  override protected def doExecute(): RDD[InternalRow] = {
    val schema = child.output
    val keyExprs = keys
    val sortOrder = order
    val limit = k
    val maxK = maxKeys
    child.execute().mapPartitions({ iter =>
      val keyProj = UnsafeProjection.create(keyExprs, schema)
      // identity projection: guarantees an UnsafeRow for the spill encoder
      // even if an upstream operator emits another InternalRow flavor
      val toUnsafe = UnsafeProjection.create(schema.map(a => a: Expression), schema)
      // codegen'd comparator following the requested sort order: rows that
      // compare SMALLER are "better" (earlier in the sorted output)
      val cmp = GenerateOrdering.generate(sortOrder, schema)
      // PriorityQueue dequeues the maximum under its Ordering; with the
      // comparator as-is the max is the WORST kept row — exactly what a
      // bounded top-k heap evicts
      val worstFirst = new Ordering[InternalRow] {
        override def compare(a: InternalRow, b: InternalRow): Int = cmp.compare(a, b)
      }
      val nFields = schema.length
      val spillFiles = scala.collection.mutable.ArrayBuffer.empty[java.io.File]
      // readers still open if the consumer abandons the output iterator
      // early (limit(), task kill): closed by the completion listener so
      // neither the fd nor (on filesystems that refuse to unlink open
      // files) the spill file outlives the task
      val openReaders = scala.collection.mutable.ArrayBuffer.empty[java.io.Closeable]
      Option(org.apache.spark.TaskContext.get()).foreach(
        _.addTaskCompletionListener[Unit] { _ =>
          openReaders.foreach(r => try r.close() catch { case _: java.io.IOException => () })
          spillFiles.foreach(f => if (f.exists()) f.delete())
        })

      // Spill lands in the executor's configured scratch space
      // (spark.local.dir — the disks sized for shuffle/spill), NOT
      // java.io.tmpdir, which on real clusters is commonly a small root
      // partition or memory-backed tmpfs. Multiple dirs rotate by
      // partition id, mirroring how Spark's own spills spread I/O.
      def newSpillFile(): java.io.File = {
        val dirs = Option(org.apache.spark.SparkEnv.get)
          .flatMap(env => env.conf.getOption("spark.local.dir"))
          .getOrElse(System.getProperty("java.io.tmpdir"))
          .split(",").map(_.trim).filter(_.nonEmpty)
          .map(new java.io.File(_)).filter(d => d.isDirectory && d.canWrite)
        val pid = Option(org.apache.spark.TaskContext.get()).map(_.partitionId()).getOrElse(0)
        val dir =
          if (dirs.nonEmpty) dirs(pid % dirs.length)
          else new java.io.File(System.getProperty("java.io.tmpdir"))
        val f = java.io.File.createTempFile("graft-topk-spill-", ".bin", dir)
        spillFiles += f
        f
      }

      def readSpill(f: java.io.File): Iterator[InternalRow] = {
        val in = new java.io.DataInputStream(
          new java.io.BufferedInputStream(new java.io.FileInputStream(f), 1 << 16))
        openReaders += in
        new Iterator[InternalRow] {
          private var nextSize = readSize()
          private def readSize(): Int =
            try in.readInt()
            catch { case _: java.io.EOFException => in.close(); -1 }
          override def hasNext: Boolean = nextSize >= 0
          override def next(): InternalRow = {
            val bytes = new Array[Byte](nextSize)
            in.readFully(bytes)
            val row = new UnsafeRow(nFields)
            row.pointTo(bytes, nextSize)
            nextSize = readSize()
            row
          }
        }
      }

      // Map-side partial pass: prune admitted keys to their local top-k;
      // FORWARD rows of keys beyond the cap unpruned (a partial pass may
      // emit extra rows — the final pass reduces them — so overflow costs
      // shuffle bytes, never memory or spill I/O).
      def partialPass(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
        val heaps = scala.collection.mutable.LinkedHashMap
          .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
        val passThrough = rows.flatMap { row =>
          val key = keyProj(row)
          heaps.get(key) match {
            case Some(pq) =>
              if (pq.size < limit) { pq.enqueue(row.copy()); Nil }
              else if (cmp.compare(row, pq.head) < 0) {
                pq.dequeue(); pq.enqueue(row.copy()); Nil
              } else Nil
            case None if heaps.size < maxK =>
              val pq = scala.collection.mutable.PriorityQueue.empty[InternalRow](worstFirst)
              pq.enqueue(row.copy())
              heaps.put(key.copy(), pq)
              Nil
            case None => row :: Nil // overflow: forward for the final pass
          }
        }
        // heaps drain only after passThrough exhausts (iterator ++ is lazy)
        passThrough ++ heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
      }

      // One bounded pass: heap-process the first maxK keys seen; spill the
      // raw rows of every later-arriving key; recurse on the spill. A key's
      // rows are never split across the map and the spill (admission is
      // decided once, at first sight), so per-pass emissions are exact.
      def boundedPass(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
        val heaps = scala.collection.mutable.LinkedHashMap
          .empty[UnsafeRow, scala.collection.mutable.PriorityQueue[InternalRow]]
        var spillFile: java.io.File = null
        var spillOut: java.io.DataOutputStream = null
        val writeBuffer = new Array[Byte](4096)
        rows.foreach { row =>
          val key = keyProj(row) // reused buffer: copy only on first sight
          heaps.get(key) match {
            case Some(pq) =>
              if (pq.size < limit) pq.enqueue(row.copy())
              else if (cmp.compare(row, pq.head) < 0) { pq.dequeue(); pq.enqueue(row.copy()) }
            case None if heaps.size < maxK =>
              val pq = scala.collection.mutable.PriorityQueue.empty[InternalRow](worstFirst)
              pq.enqueue(row.copy())
              heaps.put(key.copy(), pq)
            case None =>
              if (spillOut == null) {
                spillFile = newSpillFile()
                spillOut = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
                  new java.io.FileOutputStream(spillFile), 1 << 16))
              }
              val u = row match {
                case ur: UnsafeRow => ur
                case other => toUnsafe(other)
              }
              spillOut.writeInt(u.getSizeInBytes)
              u.writeToStream(spillOut, writeBuffer)
          }
        }
        if (spillOut != null) spillOut.close()
        // per key, emit best-first (dequeueAll yields worst-first)
        val emitted = heaps.valuesIterator.flatMap(_.dequeueAll.reverseIterator)
        if (spillFile == null) emitted
        else emitted ++ boundedPass(readSpill(spillFile))
      }

      if (partial) partialPass(iter) else boundedPass(iter)
    }, preservesPartitioning = true)
  }
}

/** Optimizer rule completing the whole-operator stack (LogicalPlan + Rule +
  * Strategy + SparkPlan): rewrites the idiomatic window top-k —
  *
  *   Project(cols…, Filter(rk <= k, Window([row_number() OVER
  *     (PARTITION BY p ORDER BY o)] AS rk, child)))
  *
  * — into `Project(cols…, TopKPerKeyNode(p, o, k, child))` whenever the rank
  * column itself is not in the projection, so EXISTING queries written with
  * the standard idiom get the bounded-heap partial+final operator (no sort,
  * map-side prune) without being rewritten by hand.
  *
  * When the projection DOES carry the rank column (q05's shape — the
  * output wants `rk`), the window cannot be dropped, but the expensive
  * part still can: the rewrite keeps `Project(Filter(Window(...)))` and
  * replaces the window's CHILD with the TopKPerKeyNode, so the heap
  * operator prunes the stream map-side to ≤ k rows per key and the sort
  * the window still runs touches only the survivors — the discarded
  * 99.9% is never sorted. Ranks are unchanged: the heap keeps exactly the
  * rows row_number would rank 1..k under the same order (the same
  * total-order caveat as row_number itself), and re-ranking k rows
  * reproduces 1..k.
  *
  * Applies only when: exactly one window expression and it is row_number()
  * with the default RowFrame; the filter is a simple rank bound (<=, <,
  * = 1, or the reversed comparisons); the partition spec is non-empty (the
  * global case already plans as TakeOrderedAndProject); and the projection
  * references only the window child's columns (plus the rank, in the
  * rank-carrying variant). A child that is already a TopKPerKeyNode is
  * left alone (the rank-carrying rewrite keeps the matchable
  * Project/Filter/Window shape).
  *
  * Determinism note: like row_number itself, result SETS are only
  * deterministic when the order gives a total order per key (unique
  * tiebreak); the rewrite neither adds nor removes that requirement.
  *
  * Runs as a pre-CBO rule of every session built with
  * [[graft.functions.GraftExtensions]]: once, after operator optimization
  * and before InferWindowGroupLimit. A rank read only by a Sort that a
  * later batch (EliminateSorts) removes still counts as carried, so such a
  * plan keeps a window over the ≤ k survivors per key.
  * `spark.sql.optimizer.excludedRules` set to its `ruleName` turns it off
  * for one session.
  */
object TopKRewriteRule
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan] {

  import org.apache.spark.sql.catalyst.expressions._
  import org.apache.spark.sql.catalyst.plans.logical.{Filter, Project, Window}

  private def rankLimit(cond: Expression, rk: ExprId): Option[Int] = cond match {
    case LessThanOrEqual(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rk => Some(k)
    case LessThan(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rk => Some(k - 1)
    case EqualTo(a: AttributeReference, Literal(k: Int, _)) if a.exprId == rk && k == 1 => Some(1)
    case GreaterThanOrEqual(Literal(k: Int, _), a: AttributeReference) if a.exprId == rk => Some(k)
    case GreaterThan(Literal(k: Int, _), a: AttributeReference) if a.exprId == rk => Some(k - 1)
    case _ => None
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    case p @ Project(projectList, Filter(cond, w: Window))
        if w.windowExpressions.length == 1 && w.partitionSpec.nonEmpty =>
      w.windowExpressions.head match {
        case alias @ Alias(WindowExpression(RowNumber(),
            WindowSpecDefinition(_, _, SpecifiedWindowFrame(
              org.apache.spark.sql.catalyst.expressions.RowFrame,
              UnboundedPreceding, CurrentRow))), _) =>
          rankLimit(cond, alias.exprId) match {
            case Some(k) if k > 0 && !w.child.isInstanceOf[TopKPerKeyNode] =>
              val rankUsed =
                projectList.exists(_.references.exists(_.exprId == alias.exprId))
              if (!rankUsed && projectList.forall(_.references.subsetOf(w.child.outputSet)))
                // rank discarded: the window disappears entirely
                Project(projectList,
                  TopKPerKeyNode(w.partitionSpec, w.orderSpec, k, TopK.DefaultMaxKeys, w.child))
              else if (projectList.forall(_.references.subsetOf(w.outputSet)))
                // rank carried: prune first, re-rank only the survivors
                Project(projectList, Filter(cond, w.copy(child =
                  TopKPerKeyNode(w.partitionSpec, w.orderSpec, k, TopK.DefaultMaxKeys, w.child))))
              else p
            case _ => p
          }
        case _ => p
      }
  }
}

/** User-facing surface. `perKey` plans through [[TopKStrategy]], which a
  * session gets from [[graft.functions.GraftExtensions]].
  */
object TopK {

  /** Default in-memory key cap per partition (see the memory-bound note on
    * [[TopKPerKeyNode]]): 2^20 keys × k rows each. Raise for small rows /
    * big executors, lower for very wide rows.
    */
  val DefaultMaxKeys: Int = 1 << 20

  /** Top `k` rows per `keyCols` group ordered by `orderCols`
    * ((column, ascending) pairs — give a total order, e.g. a unique
    * tiebreak column, for deterministic output). `maxKeys` caps the
    * per-partition in-memory key map; overflow keys defer to spill passes.
    */
  def perKey(
      df: DataFrame,
      keyCols: Seq[String],
      orderCols: Seq[(String, Boolean)],
      k: Int,
      maxKeys: Int = DefaultMaxKeys): DataFrame = {
    val spark = df.sparkSession
    val analyzed = df.queryExecution.analyzed
    def attr(name: String): Attribute =
      analyzed.output.find(a => spark.sessionState.conf.resolver(a.name, name)).getOrElse(
        throw new IllegalArgumentException(
          s"column '$name' not found among ${analyzed.output.map(_.name).mkString(", ")}"))
    val order = orderCols.map { case (c, asc) =>
      SortOrder(attr(c), if (asc) Ascending else Descending)
    }
    org.apache.spark.sql.classic.GraftPlanBridge.ofRows(
      spark, TopKPerKeyNode(keyCols.map(attr), order, k, maxKeys, analyzed))
  }
}
