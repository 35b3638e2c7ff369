package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}

import org.apache.hadoop.fs.Path

import graft.catalog.{DeltaSink, Sinks}
import graft.sources.{CommitStore, DeltaLog, DeltaNative}

/** The one commit publish is exclusive: of writers racing for one version,
  * exactly one wins and the others get the lost-commit error. Each trial
  * releases its threads together through a barrier. */
class CommitStoreSpec extends SparkSpec {
  import spark.implicits._

  private final class Lost extends RuntimeException("lost")

  /** Run `body(i)` on `n` threads released together; each thread's result
    * is Right(value) or Left(the exception it threw). */
  private def race[T](n: Int)(body: Int => T): Seq[Either[Throwable, T]] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val barrier = new CyclicBarrier(n)
      val futures = (0 until n).map { i =>
        pool.submit(() => {
          barrier.await(30, TimeUnit.SECONDS)
          try Right(body(i)) catch { case e: Throwable => Left(e) }
        })
      }
      futures.map(_.get(120, TimeUnit.SECONDS))
    } finally pool.shutdownNow()
  }

  test("publish on file: one winner per target, the losers get the lost-commit error") {
    val dir = tempDir("commit_race")
    val fs = new Path(dir.getPath).getFileSystem(spark.sessionState.newHadoopConf())
    (1 to 300).foreach { trial =>
      val target = new Path(dir.getPath, f"log/$trial%020d.json")
      val outcomes = race(4) { i =>
        CommitStore.publish(fs, target, s"writer $i of trial $trial\n".getBytes("UTF-8"))(new Lost)
        i
      }
      val winners = outcomes.collect { case Right(i) => i }
      assert(winners.size === 1, s"trial $trial: winners $winners")
      assert(outcomes.collect { case Left(e) => e }.forall(_.isInstanceOf[Lost]), outcomes)
      assert(java.nio.file.Files.readString(new java.io.File(dir, s"log/${target.getName}").toPath) ===
        s"writer ${winners.head} of trial $trial\n")
    }
    // no staged file is left behind, winner's or loser's
    assert(new java.io.File(dir, "log").list().toSeq.filter(_.endsWith(".tmp")) === Nil)
  }

  test("racing SET TBLPROPERTIES: every call that returned has its key in the table") {
    val root = tempDir("commit_race_props").getPath + "/t"
    Sinks.copyTo(Seq((1L, "a")).toDF("id", "v"), root, "delta")
    (1 to 20).foreach { trial =>
      val outcomes = race(2) { i =>
        DeltaSink.setTableProperties(spark, root, Map(s"race.t$trial.w$i" -> "x"))
        i
      }
      outcomes.collect { case Left(e) => e }.foreach { e =>
        assert(e.isInstanceOf[DeltaNative.DeltaReadException] &&
          e.getMessage.contains("another writer got there first"), e)
      }
      val conf = DeltaLog.snapshot(spark, root).conf
      outcomes.collect { case Right(i) => i }.foreach { i =>
        assert(conf.contains(s"race.t$trial.w$i"), s"trial $trial: writer $i's commit was lost")
      }
    }
  }
}
