package graft.operators

import scala.annotation.tailrec
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.storage.StorageLevel

/** The one owner of cached and checkpointed intermediates. An operator
  * whose plan reads a frame several times caches it with [[persist]]; an
  * iterative loop truncates its lineage with [[checkpoint]]. Both register
  * the frame in this thread's open [[scope]], which releases every frame
  * registered inside it when its body returns or throws — so a runner that
  * builds a query, runs its action and closes the scope leaves no cache
  * entry and no checkpoint block behind. Outside a scope nothing is
  * registered: the frames live until something releases them, or until a
  * driver GC lets Spark's ContextCleaner drop them.
  *
  * A checkpoint is released through its `LogicalRDD`'s RDD:
  * `Dataset.unpersist` (and `spark.catalog.clearCache()`) look only at the
  * CacheManager and never reach a checkpoint's blocks.
  *
  * [[checkpoint]] is the only place the checkpoint kind is chosen. It is a
  * local checkpoint, whose blocks die with their executor; a reliable
  * `checkpoint()` into `spark.checkpoint.dir` is a one-line change here. */
private[graft] object Owned {

  /** This thread's open scope: the frames registered so far. */
  private val open = ThreadLocal.withInitial[Option[ArrayBuffer[Dataset[_]]]](() => None)

  private def register[T](ds: Dataset[T]): Dataset[T] = {
    open.get.foreach(_ += ds)
    ds
  }

  /** Caches `ds` (lazily, at the one storage level) and registers it. */
  def persist[T](ds: Dataset[T]): Dataset[T] =
    register(ds.persist(StorageLevel.MEMORY_AND_DISK_SER))

  /** Materializes `ds` now, truncates its lineage and registers it. */
  def checkpoint[T](ds: Dataset[T]): Dataset[T] =
    register(ds.localCheckpoint(eager = true))

  /** Frees `ds` now: its cache entry, or the blocks of the checkpoint it is
    * (or projects). A loop releases last round's frame this way; releasing
    * twice is harmless. */
  def release(ds: Dataset[_]): Unit =
    if (ds.storageLevel != StorageLevel.NONE) ds.unpersist()
    else checkpointRdd(ds.queryExecution.analyzed).foreach(Bridge.unpersist)

  @tailrec private def checkpointRdd(plan: LogicalPlan): Option[RDD[_]] = plan match {
    case r: LogicalRDD => Some(r.rdd)
    case p: Project => checkpointRdd(p.child)
    case _ => None
  }

  /** Runs `body` with a fresh scope open on this thread and releases every
    * frame registered inside it, newest first, when `body` returns or
    * throws. Frames registered in an enclosing scope are left alone. */
  def scope[T](body: => T): T = {
    val frames = ArrayBuffer.empty[Dataset[_]]
    val outer = open.get
    open.set(Some(frames))
    try body
    finally {
      open.set(outer)
      frames.reverseIterator.foreach(release)
    }
  }
}
