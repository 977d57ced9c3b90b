package graft.frontier

import org.apache.spark.{OneToOneDependency, Partition, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Encoders, Row, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LocalRelation, LogicalPlan, Statistics}
import org.apache.spark.sql.execution.{LogicalRDD, SQLExecution}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel
import org.apache.spark.unsafe.Platform
import scala.reflect.ClassTag

/** A frame whose plan runs once however many jobs read it: its rows are
  * persisted as [[RowPages]] (memory, spilling to disk) by whichever job
  * reads it first, and every read scans those pages. The lineage stays, so a
  * lost block is recomputed from the plan. `release()` drops the pages.
  *
  * Against `Dataset.cache`, a read generates no columnar iterator per
  * column set, and nothing is registered with the CacheManager, so later
  * plans are not matched against it.
  */
private[frontier] final class Once private (val frame: DataFrame,
                                            pages: Option[RDD[Array[Byte]]]) {
  def release(): Unit = pages.foreach(_.unpersist(blocking = false))

  /** Computes the pages now, unless a job already has, and folds each
    * partition's rows with `summary` (its partition index and its rows; a
    * row is valid until the next one is read). Returns the frame with the
    * bytes of its rows as the planner's size estimate, and the summaries by
    * partition index. The job runs as an SQL execution of the frame's
    * session, so its tasks load generated classes through the same class
    * loader as every other job of the session. */
  def evaluate[T: ClassTag](summary: (Int, Iterator[InternalRow]) => T): (DataFrame, Seq[T]) = {
    val qe = frame.queryExecution
    val width = frame.schema.length
    val rdd = pages.getOrElse(qe.toRdd.mapPartitions(RowPages.pack(frame.schema)))
    val parts = SQLExecution.withNewExecutionId(qe, Some("evaluate once")) {
      frame.sparkSession.sparkContext.runJob(rdd, (ctx: TaskContext, it: Iterator[Array[Byte]]) => {
        val ps = it.toArray
        (ps.map(_.length.toLong).sum, summary(ctx.partitionId(), RowPages.unpack(width)(ps.iterator)))
      })
    }
    val sized = LogicalRDD(qe.optimizedPlan.output, rdd.mapPartitions(RowPages.unpack(width)))(
      Once.session(frame), Some(Statistics(parts.map(_._1).sum)))
    (Once.over(frame, sized), parts.map(_._2).toSeq)
  }
}

private[frontier] object Once {

  /** `df` evaluated once, with its query stages run now. A plan that
    * optimizes to a local relation was already evaluated on the driver, and
    * one that scans an RDD's rows (as an evaluated frame does) is read as
    * it is. Any other plan runs its AQE input stages in this call (`toRdd`),
    * so the frame carries a size estimate that sees their real sizes (a
    * cached input's included). */
  def now(df: DataFrame): Once = {
    val qe = df.queryExecution
    qe.optimizedPlan match {
      case local: LocalRelation => new Once(over(df, local), None)
      case _: LogicalRDD => new Once(df, None)
      case opt =>
        val pages = qe.toRdd.mapPartitions(RowPages.pack(df.schema))
        persisted(df, opt, pages)
    }
  }

  /** `df` evaluated once, by the first job that reads the frame: nothing
    * runs in this call. Its query stages run in that job's own execution,
    * on the thread that submits it. The frame carries the plan's size
    * estimate. */
  def later(df: DataFrame): Once = {
    val qe = df.queryExecution
    val opt = qe.optimizedPlan
    val schema = df.schema
    persisted(df, opt,
      new Deferred(df.sparkSession.sparkContext,
        () => qe.toRdd.mapPartitions(RowPages.pack(schema))))
  }

  private def session(df: DataFrame) = df.sparkSession.asInstanceOf[classic.SparkSession]

  private def over(df: DataFrame, plan: LogicalPlan): DataFrame =
    new classic.Dataset[Row](session(df), plan, Encoders.row(df.schema))

  private def persisted(df: DataFrame, opt: LogicalPlan, pages: RDD[Array[Byte]]): Once = {
    pages.persist(StorageLevel.MEMORY_AND_DISK)
    val rows = pages.mapPartitions(RowPages.unpack(opt.output.length))
    val est = Statistics(opt.stats.sizeInBytes, opt.stats.rowCount)
    new Once(over(df, LogicalRDD(opt.output, rows)(session(df), Some(est))), Some(pages))
  }

  /** The RDD `make` returns, made on first use. A job's partitions are
    * resolved on the thread that submits it, before the scheduler sees its
    * dependencies, so `make` runs on that thread, inside that job's
    * execution. */
  private final class Deferred(sc: org.apache.spark.SparkContext,
                               @transient private val make: () => RDD[Array[Byte]])
      extends RDD[Array[Byte]](sc, Nil) {
    @transient private lazy val inner = make()
    override protected def getPartitions: Array[Partition] = inner.partitions
    override protected def getDependencies = Seq(new OneToOneDependency(inner))
    override def compute(split: Partition, context: TaskContext): Iterator[Array[Byte]] =
      firstParent[Array[Byte]].iterator(split, context)
  }
}

/** A partition's rows as `UnsafeRow` bytes in a few large byte-array pages,
  * each row an 8-byte length and its bytes. The block manager then stores
  * one object per page instead of one per row: persisting deserialized rows
  * costs about as much CPU as recomputing a canonicalize + hash plan, and
  * pages cost a copy.
  */
private object RowPages {
  private val PageBytes = 32 << 20

  def pack(schema: StructType)(rows: Iterator[InternalRow]): Iterator[Array[Byte]] = {
    lazy val toUnsafe = UnsafeProjection.create(schema)
    new Iterator[Array[Byte]] {
      def hasNext: Boolean = rows.hasNext
      def next(): Array[Byte] = {
        var page = new Array[Byte](1 << 16)
        var used = 0
        while (rows.hasNext && used < PageBytes) {
          val row = rows.next() match {
            case u: UnsafeRow => u
            case other => toUnsafe(other)
          }
          val n = row.getSizeInBytes
          if (used + 8 + n > page.length)
            page = java.util.Arrays.copyOf(page, math.max(2 * page.length, used + 8 + n))
          Platform.putLong(page, Platform.BYTE_ARRAY_OFFSET + used, n)
          row.writeToMemory(page, Platform.BYTE_ARRAY_OFFSET + used + 8)
          used += 8 + n
        }
        java.util.Arrays.copyOf(page, used)
      }
    }
  }

  /** The rows of `pages`; the returned row is reused from one call of
    * `next` to the next, as Spark's own scans do. */
  def unpack(numFields: Int)(pages: Iterator[Array[Byte]]): Iterator[InternalRow] =
    pages.flatMap { page =>
      val row = new UnsafeRow(numFields)
      var off = 0
      new Iterator[InternalRow] {
        def hasNext: Boolean = off < page.length
        def next(): InternalRow = {
          val n = Platform.getLong(page, Platform.BYTE_ARRAY_OFFSET + off).toInt
          row.pointTo(page, Platform.BYTE_ARRAY_OFFSET + off + 8, n)
          off += 8 + n
          row
        }
      }
    }
}
