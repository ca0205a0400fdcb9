package graft.engine

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.{TaskContext, TaskKilledException}
import org.apache.spark.graft.ListenerBridge
import org.apache.spark.scheduler.{JobSucceeded, SparkListener,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession.spark
import graft.engine.sources.SnapshotStore

/** [[Par.overlap]]'s contract: a failing branch cancels its siblings'
  * Spark jobs (no half-published store version is left behind) and
  * surfaces the ORIGINAL error; branches carry the caller's job tags;
  * nested scopes complete. */
class ParSpec extends AnyFunSuite {
  private def sc = spark.sparkContext

  /** Every job's tags at start and its result at end. */
  private class Jobs extends SparkListener {
    val tags = new ConcurrentHashMap[Int, Set[String]]
    val results = new ConcurrentHashMap[Int, String]
    override def onJobStart(e: SparkListenerJobStart): Unit =
      tags.put(e.jobId, Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.tags")))
        .map(_.split(',').toSet).getOrElse(Set.empty))
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      results.put(e.jobId, e.jobResult.toString)
  }

  private def withJobs[T](f: Jobs => T): T = {
    val jobs = new Jobs
    sc.addSparkListener(jobs)
    try f(jobs)
    finally {
      ListenerBridge.drainListenerBus(sc)
      sc.removeSparkListener(jobs)
    }
  }

  private def stagingDirs(root: String): Seq[String] = {
    val s = Files.list(Paths.get(root))
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith(".staging-")).toSeq
    finally s.close()
  }

  // the publish runs on the caller's thread in one case and on a forked
  // branch in the other, so both cancellation directions are covered
  for (publishOnFork <- Seq(false, true))
    test("a failing branch cancels a sibling mid-publish " +
        s"(publish on ${if (publishOnFork) "a fork" else "the caller"})") {
      val root = Artifacts.scratch("parspec_publish") + "/tbl"
      SnapshotStore.publish(spark.range(4).toDF("id"), root)
      val before = SnapshotStore.currentVersion(root)
      ParSpec.started = new CountDownLatch(4)
      val slow = spark.range(0, 4, 1, 4).select(ParSpec.slowId(col("id")))
      val boom = new IllegalStateException("planted branch failure")
      def fail(): Unit = {
        ParSpec.started.await(60, TimeUnit.SECONDS)
        throw boom
      }
      withJobs { jobs =>
        val thrown = intercept[IllegalStateException] {
          Par.overlap(spark) { s =>
            if (publishOnFork) { s.fork(SnapshotStore.publish(slow, root)); fail() }
            else { s.fork(fail()); SnapshotStore.publish(slow, root) }
          }
        }
        assert(thrown eq boom)
        assert(thrown.getSuppressed.nonEmpty,
          "the cancelled publish's error rides along as suppressed")
        ListenerBridge.drainListenerBus(sc)
        val failed = jobs.results.asScala.values.filterNot(_ == JobSucceeded.toString)
        assert(failed.exists(_.contains("cancelled")), jobs.results)
      }
      assert(SnapshotStore.currentVersion(root) == before)
      assert(stagingDirs(root).isEmpty)
    }

  test("branches carry the caller's job tags and a copy of its properties") {
    sc.addJobTag("parspec-caller")
    sc.setLocalProperty("parspec.prop", "at-fork")
    try withJobs { jobs =>
      val (forkTags, forkProp, callerTags) = Par.overlap(spark) { s =>
        val f = s.fork {
          spark.range(3).count()
          (sc.getJobTags(), sc.getLocalProperty("parspec.prop"))
        }
        sc.setLocalProperty("parspec.prop", "after-fork")
        spark.range(5).count()
        val callerTags = sc.getJobTags()
        val (tags, prop) = f.join()
        (tags, prop, callerTags)
      }
      assert(forkProp == "at-fork")
      assert(forkTags.contains("parspec-caller") &&
        callerTags.contains("parspec-caller"))
      assert((forkTags -- callerTags).exists(_.startsWith("graft-par-")),
        "each branch has its own tag")
      assert(!sc.getJobTags().exists(_.startsWith("graft-par-")),
        "the caller's branch tag is removed when the scope exits")
      ListenerBridge.drainListenerBus(sc)
      // jobs also carry the session's own tags, so match by inclusion
      val seen = jobs.tags.asScala.values.toSeq
      val forkOwn = forkTags -- callerTags
      assert(seen.exists(forkTags.subsetOf), seen)
      assert(seen.exists(t => callerTags.subsetOf(t) && (forkOwn & t).isEmpty),
        seen)
    } finally {
      sc.removeJobTag("parspec-caller")
      sc.setLocalProperty("parspec.prop", null)
    }
  }

  test("a scope nested inside a branch completes") {
    val total = Par.overlap(spark) { s =>
      val nested = s.fork(Par.overlap(spark) { t =>
        val ten = t.fork(spark.range(10).count())
        spark.range(5).count() + ten.join()
      })
      val three = Par.overlap(spark)(t => t.fork(spark.range(3).count()).join())
      nested.join() + three
    }
    assert(total == 18L)
  }
}

object ParSpec {
  @volatile var started = new CountDownLatch(0)

  /** Identity on `id` that never finishes on its own: each task signals
    * `started`, then polls its kill flag (bounded, so a cancellation
    * that never arrives fails the assertions instead of hanging). */
  val slowId = udf { (id: Long) =>
    started.countDown()
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(60)
    while (System.nanoTime() < deadline) {
      Thread.sleep(20)
      if (TaskContext.get().isInterrupted())
        throw new TaskKilledException("cancelled")
    }
    id
  }
}
