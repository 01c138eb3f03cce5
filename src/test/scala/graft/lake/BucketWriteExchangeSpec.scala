package graft.lake

import graft.SparkSpec
import graft.plans.PlanInspect
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.util.QueryExecutionListener

/** Pins the shuffle exchanges each bucketed write's data write costs:
  * the resolve + route of an upsert and the route of a fragment append
  * or a delete rewrite are one exchange each; compaction reads the
  * bucketed relation and writes with none. Counted over the executed
  * plan of every write command under `data/v<tag>`. */
class BucketWriteExchangeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    java.nio.file.Files.createTempDirectory("bucket-write-exchange").toString

  /** The write command in an executed plan, looking through AQE's
    * stage wrappers (in Spark 4 the command sits under a
    * `ResultQueryStage`, which is not a TreeNode child). */
  private def writeCommand(p: SparkPlan): Option[DataWritingCommandExec] =
    p match {
      case w: DataWritingCommandExec => Some(w)
      case a: AdaptiveSparkPlanExec => writeCommand(a.executedPlan)
      case q: QueryStageExec => writeCommand(q.plan)
      case c: CommandResultExec => writeCommand(c.commandPhysicalPlan)
      case other => other.children.iterator.flatMap(writeCommand).nextOption()
    }

  /** The shuffle count of each bucket-data write `body` ran, in order.
    * Listener events arrive in order, so once a fence query run after
    * `body` has been seen, every write `body` ran has been. */
  private def writeShuffles(body: => Unit): Seq[Int] = {
    val fence = s"exchange-fence-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Either[String, Int]]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
                             durationNs: Long): Unit =
        if (qe.logical.toString.contains(fence)) seen.add(Left(fence))
        else writeCommand(qe.executedPlan).foreach { w =>
          w.cmd match {
            case i: InsertIntoHadoopFsRelationCommand
                if i.outputPath.toString.matches(".*/data/v\\d+") =>
              seen.add(Right(PlanInspect.shuffles(qe.executedPlan).size))
            case _ => ()
          }
        }
      override def onFailure(funcName: String, qe: QueryExecution,
                             exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      spark.range(1).select(org.apache.spark.sql.functions.lit(fence)).collect()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(Left(fence)) && System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(seen.contains(Left(fence)), "the fence query never reached the listener")
      seen.toArray.toSeq.takeWhile(_ != Left(fence)).collect {
        case Right(n: Int) => n
      }
    } finally spark.listenerManager.unregister(listener)
  }

  private def batch(ks: Range, ver: Long) =
    ks.map(k => (k.toLong, s"v$ver-$k", ver)).toDF("k", "s", "ver")

  test("a steady-state applyBatch write has ONE exchange (resolve + route)") {
    val root = tmp() + "/t"
    BucketedUpsert.applyBatch(batch(1 to 200, 1), root, "k", "ver", 4, tag = 1)
    assert(writeShuffles(BucketedUpsert.applyBatch(batch(150 to 300, 2),
      root, "k", "ver", 4, tag = 2)) == Seq(1))
  }

  test("an appendFragment write has ONE exchange (the route)") {
    val root = tmp() + "/t"
    BucketedUpsert.appendFragment(batch(1 to 200, 1), root, "k", 4, tag = 1)
    assert(writeShuffles(BucketedUpsert.appendFragment(batch(150 to 300, 2),
      root, "k", 4, tag = 2, versionCol = "ver")) == Seq(1))
  }

  test("mergeFragments and mergeFragmentsTiered write with ZERO exchange") {
    def fragmented() = {
      val root = tmp() + "/t"
      for (t <- 1 to 3)
        BucketedUpsert.appendFragment(batch(t * 50 to t * 50 + 100, t),
          root, "k", 4, tag = t, versionCol = "ver")
      root
    }
    val full = fragmented()
    assert(writeShuffles(BucketedUpsert.mergeFragments(spark, full, "k",
      "ver", tag = 4)) == Seq(0))
    val tiered = fragmented()
    assert(writeShuffles(BucketedUpsert.mergeFragmentsTiered(spark, tiered,
      "k", "ver", tag = 4, tierRatio = 100.0)) == Seq(0))
  }

  test("a deleteKeys write has ONE exchange (the route)") {
    val root = tmp() + "/t"
    BucketedUpsert.applyBatch(batch(1 to 200, 1), root, "k", "ver", 4, tag = 1)
    assert(writeShuffles(BucketedUpsert.deleteKeys(spark, root, "k",
      Seq(3L, 77L, 150L).toDF("k"), tag = 2)) == Seq(1))
  }
}
