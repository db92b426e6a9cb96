package graft.operators

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.graft.Bridge
import org.scalatest.funsuite.AnyFunSuite

import graft.QueryCatalog

/** Every cached or checkpointed intermediate has an owner: a closed
  * [[Owned.scope]] leaves no CacheManager entry and no RDD blocks behind,
  * a distributed loop holds only the checkpoints its result reads, and no
  * code outside `Owned.scala` caches, checkpoints or releases on its own. */
class OwnedSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.get
  private lazy val sc = spark.sparkContext

  private def cacheEntries: Boolean =
    !spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty

  /** Ids of the RDDs that hold cached or checkpointed blocks right now
    * (block counts reach the status store through the listener bus). */
  private def blockHolders: Set[Int] = {
    Bridge.drainListenerBus(sc)
    sc.getRDDStorageInfo.map(_.id).toSet
  }

  /** The sf0.001 fixtures, next to the `SPARK_GRAFT_SF_DIR` default. */
  private val sf = Paths.get(graft.Config.fromEnv.sfDir).resolveSibling("sf0.001").toString

  test("a closed scope leaves no cache entry and no blocks, for every owning family") {
    spark.catalog.clearCache()
    val before = blockHolders
    for (name <- Seq("dedup_clusters", "dedup_keep_best", "knn_large", "bm25_topk",
        "cross_corpus_dedup", "decontaminate", "sequence_pack", "cell_clusters",
        "domain_pagerank", "bpe_train")) {
      Owned.scope(QueryCatalog.queries(name)(spark, sf).count())
      assert(!cacheEntries, s"$name left CacheManager entries")
      val left = blockHolders -- before
      assert(left.isEmpty, s"$name left RDDs holding blocks: $left")
    }
  }

  /** Runs `loop` with its gate forced to the distributed side and returns
    * how many RDDs made inside the outer scope hold blocks just before it
    * closes, after the result has been read. */
  private def heldByLoop(gate: String)(loop: => DataFrame): Int = {
    val before = blockHolders
    Owned.scope {
      Gate.scope(Map(gate -> false))(loop.count())
      (blockHolders -- before).size
    }
  }

  test("a forced distributed loop holds only what its result reads, whatever the rounds") {
    import spark.implicits._
    def chain(n: Int) = (0L until n.toLong).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    def ring(n: Int) = (0L until n.toLong).map(i => (i, (i + 1) % n, 1L + i % 3))
      .toDF("src", "dst", "w")
    def words(n: Int) = Seq.tabulate(n)(i => s"ab$i abab cab").toDF("text")
    for (n <- Seq(2, 16)) // the chain's CC rounds grow with log n
      assert(heldByLoop("cc.oneTask")(Dedup.connectedComponents(chain(n))) <= 1)
    for (iters <- Seq(1, 3)) {
      assert(heldByLoop("pagerank.oneTask")(Graph.pageRank(ring(9), iters)) <= 1)
      assert(heldByLoop("hits.oneTask")(Graph.hits(ring(9), iters)) <= 2)
      assert(heldByLoop("bpe.oneTask")(TextOps.bpeTrain(words(6), iters)) == 0)
    }
  }

  test("release frees a checkpoint through a projection; scopes nest and release on throw") {
    import spark.implicits._
    val before = blockHolders
    val outer = Owned.scope {
      val kept = Owned.checkpoint(Seq(1, 2, 3).toDF("x"))
      intercept[IllegalStateException](Owned.scope {
        Owned.persist(Seq(4, 5).toDF("y")).count()
        throw new IllegalStateException("boom")
      })
      assert(!cacheEntries, "the inner scope's cache entry outlived its throw")
      val dropped = Owned.checkpoint(Seq(6).toDF("z"))
      Owned.release(dropped.withColumnRenamed("z", "w"))
      assert((blockHolders -- before).size == 1, "only the outer checkpoint may hold blocks")
      kept.count()
    }
    assert(outer == 3 && (blockHolders -- before).isEmpty)
  }

  test("only Owned caches, checkpoints or releases in src/main") {
    val unowned = raw"(?<!Owned)\.(persist|cache|checkpoint|unpersist)\(|localCheckpoint\(|clearCache".r
    val files = Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Owned.scala")
      .toSeq
    assert(files.exists(_.getFileName.toString == "Dedup.scala"), s"scanned $files")
    val hits = files.flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if unowned.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
