package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

import graft.util.Scope

/** Pins the [[graft.util.Scope]] contract: input-order results,
  * cancel-on-failure (including nested scopes), the first failure
  * rethrown as is, inherited caller tags, the inline rule — plus the
  * guard that keeps it the engine's only driver-side pool. */
class ScopeSpec extends AnyFunSuite with Matchers with SparkTestBase {
  private def sc = spark.sparkContext

  /** A one-task job that runs until Spark kills it. */
  private def untilKilled(): Long =
    sc.parallelize(Seq(1), 1).map { x => SparkTestBase.waitUntilKilled(); x }.count()

  private def awaitActiveJobs(n: Int): Unit = {
    val deadline = System.nanoTime() + TimeUnit.SECONDS.toNanos(30)
    while (sc.statusTracker.getActiveJobIds.length < n && System.nanoTime() < deadline)
      Thread.sleep(20)
    sc.statusTracker.getActiveJobIds.length should be >= n
  }

  /** Runs `body`, expecting it to throw `boom` well before a killable
    * task's one-minute deadline, with no job left active. */
  private def assertCancelled(boom: Throwable)(body: => Any): Unit = {
    val t0 = System.nanoTime()
    val thrown = intercept[Throwable](body)
    thrown should be theSameInstanceAs boom
    (System.nanoTime() - t0) / 1e9 should be < 30.0
    ListenerBusAccess.drain(sc)
    sc.statusTracker.getActiveJobIds shouldBe empty
  }

  test("results come back in input order") {
    val items = (1 to 8).toList
    Scope.map(spark, "order", 3, items)(_.toString) { i =>
      Thread.sleep((8 - i) * 10L)
      sc.parallelize(1 to i, 2).count()
    } shouldBe items.map(_.toLong)
  }

  test("a failing fork cancels a running sibling job and is rethrown as is") {
    val boom = new IllegalStateException("boom")
    assertCancelled(boom) {
      Scope(spark, "cancel", 2) { scope =>
        val long = scope.fork("long")(untilKilled())
        val fail = scope.fork("fail") { awaitActiveJobs(1); throw boom }
        (long.join(), fail.join())
      }
    }
  }

  test("later failures are attached to the first as suppressed") {
    val boom = new IllegalStateException("first")
    val later = new IllegalStateException("later")
    val started, failing = new CountDownLatch(1)
    val thrown = intercept[IllegalStateException] {
      Scope(spark, "suppressed", 2) { scope =>
        scope.fork("first") { started.await(); failing.countDown(); throw boom }
        scope.fork("later") { started.countDown(); failing.await(); Thread.sleep(200); throw later }
      }
    }
    thrown should be theSameInstanceAs boom
    thrown.getSuppressed.toSeq should contain(later)
  }

  test("an outer failure cancels a nested scope's jobs") {
    val boom = new IllegalStateException("outer")
    assertCancelled(boom) {
      Scope(spark, "outer", 2) { scope =>
        val inner = scope.fork("inner") {
          Scope.map(spark, "inner", 2, Seq(1, 2))(_.toString)(_ => untilKilled())
        }
        val fail = scope.fork("fail") { awaitActiveJobs(2); throw boom }
        (inner.join(), fail.join())
      }
    }
  }

  test("forked jobs carry the caller's tags and a per-fork description") {
    val starts = new ConcurrentLinkedQueue[java.util.Properties]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = starts.add(e.properties)
    }
    ListenerBusAccess.drain(sc) // earlier suites' events
    sc.addSparkListener(listener)
    sc.addJobTag("scope-spec-caller")
    try Scope.map(spark, "tagged", 3, (1 to 6).toList)(i => s"item$i") { i =>
      sc.parallelize(1 to i, 2).count()
    }
    finally {
      sc.removeJobTag("scope-spec-caller")
      ListenerBusAccess.drain(sc)
      sc.removeSparkListener(listener)
    }
    val jobs = starts.asScala.toSeq
      .filter(p => Option(p.getProperty("spark.job.description")).exists(_.startsWith("tagged/")))
    jobs.map(_.getProperty("spark.job.description")).sorted shouldBe
      (1 to 6).map(i => s"tagged/item$i")
    all(jobs.map(_.getProperty("spark.job.tags").split(",").toSeq)) should
      contain("scope-spec-caller")
  }

  test("width 1 and a single item run inline on the calling thread") {
    val caller = Thread.currentThread()
    Scope(spark, "inline", 1) { scope =>
      Seq(scope.fork("a")(Thread.currentThread()), scope.fork("b")(Thread.currentThread()))
        .map(_.join())
    } shouldBe Seq(caller, caller)
    Scope.map(spark, "single", 4, Seq(1))(_.toString)(_ => Thread.currentThread()) shouldBe
      Seq(caller)
    Scope.map(spark, "pooled", 4, Seq(1, 2))(_.toString)(_ => Thread.currentThread()) should
      not contain caller
  }

  test("no hand-rolled driver pool outside graft/util/Scope.scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, root.getAbsolutePath)
    val offenders = org.apache.commons.io.FileUtils.listFiles(root, Array("scala"), true)
      .asScala.toSeq
      .filterNot(_.getPath.endsWith("graft/util/Scope.scala"))
      .flatMap { f =>
        val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
        Seq("newFixedThreadPool", "Await.result", "Duration.Inf")
          .filter(text.contains).map(p => s"${f.getPath}: $p")
      }
    offenders shouldBe empty
  }
}
