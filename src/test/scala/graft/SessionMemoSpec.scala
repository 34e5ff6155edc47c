package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** [[SessionMemo]]'s contract: one build per (session, key) under
  * concurrency, per-key locking, nested builds, and eviction. The two
  * eviction checks stop a session and clear the shared plan cache, so
  * they run in a child JVM ([[SessionMemoProbe]]): suites share this
  * JVM's SparkContext and run in parallel. */
class SessionMemoSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  private def await[T](f: Future[T]): T = Await.result(f, 60.seconds)

  override def afterAll(): Unit = pool.shutdownNow()

  test("eight threads asking for one key build it once") {
    val memo = new SessionMemo[String, Int](_ => ())
    val builds = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val callers = (1 to 8).map(_ => Future {
      start.await()
      memo(spark, "k") { Thread.sleep(100); builds.incrementAndGet() }
    })
    start.countDown()
    val got = await(Future.sequence(callers))
    assert(builds.get == 1)
    assert(got.forall(_ == 1))
  }

  test("a slow build of key A does not block key B") {
    val memo = new SessionMemo[String, String](_ => ())
    val aStarted = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    val a = Future(memo(spark, "A") {
      aStarted.countDown()
      // A finishes only after B was built: a B that waited on A would
      // time out here instead
      assert(bDone.await(30, TimeUnit.SECONDS), "B blocked behind A's build")
      "a"
    })
    assert(aStarted.await(30, TimeUnit.SECONDS))
    assert(await(Future(memo(spark, "B")("b"))) == "b")
    bDone.countDown()
    assert(await(a) == "a")
  }

  test("nested builds across memos do not deadlock") {
    // the shape of the 3-D pair set -> engine state -> fixture chain
    val pairs = new SessionMemo[String, Int](_ => ())
    val prep = new SessionMemo[String, Int](_ => ())
    val hists = new SessionMemo[String, Int](_ => ())
    val builds = new AtomicInteger(0)
    def chain(dir: String): Int = pairs(spark, dir) {
      builds.incrementAndGet()
      prep(spark, dir) {
        builds.incrementAndGet()
        hists(spark, dir) { builds.incrementAndGet(); Thread.sleep(50); 1 } + 1
      } + 1
    }
    val got = await(Future.sequence((1 to 8).map(i => Future(chain(s"d${i % 2}")))))
    assert(got.forall(_ == 3))
    assert(builds.get == 6) // three memos x two dirs, each built once
  }

  test("a failed build is not memoized") {
    val memo = new SessionMemo[String, Int](_ => ())
    intercept[IllegalStateException](memo(spark, "k")(throw new IllegalStateException("boom")))
    assert(memo(spark, "k")(7) == 7)
  }

  test("clearSessionCaches scopes to one session; stopped sessions are evicted and released") {
    val javaBin =
      java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString
    // this JVM's flags (--add-opens for Spark on JDK 17) minus its heap size
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .asScala.filterNot(_.startsWith("-Xmx"))
    val cmd = Seq(javaBin, "-Xmx1g") ++ jvmArgs ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.SessionMemoProbe")
    val proc = new ProcessBuilder(cmd.asJava).redirectErrorStream(true).start()
    val out = scala.io.Source.fromInputStream(proc.getInputStream).getLines().toList
    assert(proc.waitFor(300, TimeUnit.SECONDS))
    val report = out.filter(_.startsWith("PROBE ")).mkString("\n")
    assert(proc.exitValue == 0 && report.contains("PROBE OK"),
      s"probe failed (exit ${proc.exitValue}):\n${out.takeRight(40).mkString("\n")}")
  }
}
