package graft.sampling

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, BindReferences, Expression, LessThan, Literal, Predicate, Rand}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{CodegenSupport, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.util.AccumulatorV2

/** `(total, kept)` of every partition a [[SampleKeep]] read to its end,
  * keyed by `(partition count, partition index)`: the sample's accounting,
  * carried back from the tasks that ran it (as the reference's counters
  * rode in its record readers, RandomizedLineRecordReader.java:86-94).
  *
  * A partition's counts are a function of the source partition and the
  * seed, so every attempt that reads it to the end adds the same entry: a
  * retried task, a re-run or resubmitted map stage, a speculative copy or a
  * second scan of the same data (a self-join) overwrites it with itself
  * rather than adding it twice. A task that stops early (a limit, `take`)
  * adds nothing, and a failed attempt's updates are dropped by Spark.
  */
final class SampleTally extends AccumulatorV2[((Int, Int), (Long, Long)), Map[(Int, Int), (Long, Long)]] {
  private var parts = Map.empty[(Int, Int), (Long, Long)]

  override def isZero: Boolean = synchronized(parts.isEmpty)
  override def copy(): SampleTally = { val t = new SampleTally; t.parts = value; t }
  override def reset(): Unit = synchronized { parts = Map.empty }
  override def add(part: ((Int, Int), (Long, Long))): Unit = synchronized { parts += part }
  override def merge(other: AccumulatorV2[((Int, Int), (Long, Long)), Map[(Int, Int), (Long, Long)]]): Unit = {
    val more = other.value
    synchronized { parts ++= more }
  }
  override def value: Map[(Int, Int), (Long, Long)] = synchronized(parts)
  override def toString: String = s"SampleTally($id)"

  /** Called by the generated code of [[SampleKeepExec]]. */
  def record(partitions: Int, index: Int, total: Long, kept: Long): Unit =
    add(((partitions, index), (total, kept)))

  /** `(total, kept)` over a partitioning every partition of which was read
    * to its end, if there is one. (Two partitionings of one source sample
    * different rows; the one with the fewest partitions is taken.)
    */
  def complete: Option[(Long, Long)] =
    value.groupBy(_._1._1).toSeq.sortBy(_._1).collectFirst {
      case (n, ps) if ps.size == n => (ps.values.map(_._1).sum, ps.values.map(_._2).sum)
    }
}

/** Keep the rows the seeded Bernoulli predicate `rand(seed) < ratio`
  * accepts, and tally them: the logical node of a [[Sampled]] sample. The
  * node holds the seed and ratio, not the predicate, so the analyzer
  * leaves the predicate alone; it reads no column, so Catalyst prunes
  * columns below the node, and [[graft.plans.SamplePushdown]] moves it
  * below a projection.
  */
case class SampleKeep(seed: Long, ratio: Double, tally: SampleTally, child: LogicalPlan) extends UnaryNode {
  def cond: Expression = SampleKeep.predicate(seed, ratio)
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): SampleKeep = copy(child = c)
}

object SampleKeep {

  /** `rand(seed) < ratio`, as `functions.rand(seed) < lit(ratio)` resolves. */
  def predicate(seed: Long, ratio: Double): Expression = LessThan(Rand(Literal(seed)), Literal(ratio))

  /** `source` sampled at `ratio` with `seed`, tallied into `tally`. */
  def apply(source: DataFrame, seed: Long, ratio: Double, tally: SampleTally): DataFrame = {
    val spark = source.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val experimental = spark.experimental
    experimental.synchronized {
      if (!experimental.extraStrategies.contains(Strategy)) experimental.extraStrategies :+= Strategy
    }
    GraftColumnBridge.dataFrame(spark, SampleKeep(seed, ratio, tally, source.queryExecution.analyzed))
  }

  /** A tally registered with `spark`'s context. */
  def tally(spark: SparkSession): SampleTally = {
    val t = new SampleTally
    spark.sparkContext.register(t)
    t
  }

  /** Plans [[SampleKeep]]; installed in a session by the first sample built in it. */
  object Strategy extends SparkStrategy {
    override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case k: SampleKeep => SampleKeepExec(k.cond, k.tally, planLater(k.child)) :: Nil
      case _ => Nil
    }
  }
}

/** A filter on `cond` that counts the rows it reads and keeps. In a
  * whole-stage-codegen loop the counts are two fields of the generated
  * class; when the loop runs out of input (not when a limit above it stops
  * it) they go to the tally as one entry for this partition.
  */
case class SampleKeepExec(cond: Expression, tally: SampleTally, child: SparkPlan)
    extends UnaryExecNode with CodegenSupport {

  override def output: Seq[Attribute] = child.output
  override def outputPartitioning = child.outputPartitioning
  override def outputOrdering = child.outputOrdering
  override def simpleString(maxFields: Int): String = s"SampleKeep $cond"
  override protected def withNewChildInternal(c: SparkPlan): SampleKeepExec = copy(child = c)

  @transient private lazy val inputs = child.asInstanceOf[CodegenSupport].inputRDDs()
  override def inputRDDs(): Seq[RDD[InternalRow]] = inputs

  @transient private var total, kept: String = _

  override protected def doProduce(ctx: CodegenContext): String = {
    total = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sampleTotal", forceInline = true)
    kept = ctx.addMutableState(CodeGenerator.JAVA_LONG, "sampleKept", forceInline = true)
    val recorded = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, "sampleRecorded", forceInline = true)
    val tallyRef = ctx.addReferenceObj("sampleTally", tally)
    val read = child.asInstanceOf[CodegenSupport].produce(ctx, this)
    // the loop also ends when a limit above is reached: then the
    // partition was not read to its end
    val noLimitHit = (limitNotReachedChecks :+ "true").mkString(" && ")
    s"""
       |$read
       |if (!$recorded && $noLimitHit) {
       |  $recorded = true;
       |  $tallyRef.record(${inputs.head.getNumPartitions}, partitionIndex, $total, $kept);
       |}
     """.stripMargin
  }

  override def doConsume(ctx: CodegenContext, input: Seq[ExprCode], row: ExprCode): String = {
    ctx.currentVars = input
    val keep = BindReferences.bindReference(cond, child.output).genCode(ctx)
    s"""
       |do {
       |  $total++;
       |  ${keep.code}
       |  if (${keep.isNull} || !${keep.value}) continue;
       |  $kept++;
       |  ${consume(ctx, input)}
       |} while (false);
     """.stripMargin
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val (cond, tally, output) = (this.cond, this.tally, child.output)
    val rows = child.execute()
    val partitions = rows.getNumPartitions
    rows.mapPartitionsWithIndex { (index, in) =>
      val keep = Predicate.create(cond, output)
      keep.initialize(index)
      var total, kept = 0L
      var pending: InternalRow = null
      var recorded = false
      new Iterator[InternalRow] {
        override def hasNext: Boolean = {
          while (pending == null && in.hasNext) {
            val r = in.next()
            total += 1
            if (keep.eval(r)) { kept += 1; pending = r }
          }
          if (pending == null && !recorded) {
            recorded = true
            tally.record(partitions, index, total, kept)
          }
          pending != null
        }
        override def next(): InternalRow = {
          if (!hasNext) throw new NoSuchElementException
          val r = pending
          pending = null
          r
        }
      }
    }
  }
}
