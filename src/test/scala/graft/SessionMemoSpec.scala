package graft

import java.util.concurrent.{CyclicBarrier, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

import org.scalatest.funsuite.AnyFunSuite

/** The [[SessionMemo]] contract, on the shared session (never stopped
  * here: stopped-session eviction needs a stopped `SparkContext`, and the
  * suite shares its one context), plus the rule that no other main file
  * hand-rolls a per-session memo. */
class SessionMemoSpec extends AnyFunSuite {
  private lazy val spark = Golden.spark

  /** Runs `body(i)` for i in 0 until n on `threads` threads released
    * together, returning the results in order. */
  private def race[T](n: Int, threads: Int)(body: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val per = (0 until n).grouped((n + threads - 1) / threads).toSeq
      val gate = new CyclicBarrier(per.size)
      val runs = per.map(is => Future { gate.await(); is.map(body) })
      Await.result(Future.sequence(runs), 2.minutes).flatten
    } finally { pool.shutdown(); pool.awaitTermination(1, TimeUnit.MINUTES) }
  }

  test("8 concurrent first callers of one key see one build and the same value") {
    val memo = new SessionMemo[String, AnyRef]
    val builds = new AtomicInteger()
    val got = race(8, 8) { _ =>
      memo(spark, "dir") { builds.incrementAndGet(); Thread.sleep(200); new Object }
    }
    assert(builds.get == 1)
    assert(got.size == 8 && got.forall(_ eq got.head))
  }

  test("a three-level nested build returns (clusters -> pairs -> shingles)") {
    val shingles = new SessionMemo[(String, Int), String]
    val pairs = new SessionMemo[String, String]
    val clusters = new SessionMemo[String, String]
    def docShingles(dir: String, n: Int) = shingles(spark, (dir, n))(s"shingles($dir,$n)")
    def docPairs(dir: String) = pairs(spark, dir)(s"pairs(${docShingles(dir, 5)})")
    def docClusters(dir: String) = clusters(spark, dir)(s"clusters(${docPairs(dir)})")
    assert(docClusters("d") == "clusters(pairs(shingles(d,5)))")
    // first builds of many keys at once, each nesting through all three
    val got = race(400, 4)(i => docClusters(s"d${i % 200}"))
    assert(got == (0 until 400).map(i => s"clusters(pairs(shingles(d${i % 200},5)))"))
  }

  test("newSession() gets its own entry and the original session's entry is kept") {
    val memo = new SessionMemo[String, AnyRef]
    val builds = new AtomicInteger()
    def get(s: org.apache.spark.sql.SparkSession) =
      memo(s, "dir") { builds.incrementAndGet(); new Object }
    val first = get(spark)
    val other = get(spark.newSession())
    assert(!(other eq first))
    assert(get(spark) eq first)
    assert(builds.get == 2)
  }

  test("a build that throws stores nothing and the next call builds again") {
    val memo = new SessionMemo[String, String]
    val builds = new AtomicInteger()
    def get() = memo(spark, "dir") {
      if (builds.incrementAndGet() == 1) throw new IllegalStateException("first build fails")
      "built"
    }
    assert(intercept[IllegalStateException](get()).getMessage == "first build fails")
    assert(get() == "built")
    assert(get() == "built")
    assert(builds.get == 2)
  }

  test("SessionMemo.scala is the only main file with a session-keyed map or a stopped-session purge") {
    val sessionKeyedMap = ("\\b\\w*Map\\s*\\[\\s*(?:\\([^()\\[\\]]*\\bSparkSession\\b[^()\\[\\]]*\\)" +
      "|(?:[\\w.]+\\.)?SparkSession\\s*,)").r
    val purge = "\\bisStopped\\b".r
    def memoCode(code: String): Boolean =
      sessionKeyedMap.findFirstIn(code).isDefined || purge.findFirstIn(code).isDefined
    assert(SourceScan.filesWhere("src/main")(memoCode) == Seq("scala/graft/SessionMemo.scala"))
    // the patterns catch the hand-rolled shapes, not a map holding sessions
    // as values, and not a mention in a comment or a string
    def hits(src: String) = memoCode(SourceScan.codeOnly(src))
    assert(hits("new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, Int), DataFrame]()"))
    assert(hits("val m = scala.collection.mutable.Map[org.apache.spark.sql.SparkSession, Long]()"))
    assert(hits("m.keySet.removeIf(_._1.sparkContext.isStopped)"))
    assert(!hits("val m: Map[String, SparkSession] = Map.empty"))
    assert(!hits("// ConcurrentHashMap[(SparkSession, String), DataFrame]\nval s = \"isStopped\""))
  }
}
