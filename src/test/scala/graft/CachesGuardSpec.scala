package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Plans are cached only through `Caches.lease`: a bare `persist`, `cache`,
  * `cacheTable` or SQL `CACHE TABLE` clones the session for every cache,
  * and each clone compiles every stage of the cached plan again (see
  * `CacheSession`).
  */
class CachesGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val allowed = Set(
    root.resolve("graft/ops/Caches.scala"),
    root.resolve("org/apache/spark/sql/execution/CacheSession.scala"))
  private val bare = """\.(persist|cache)\b|\bcacheTable\b|(?i)\bcache\s+(lazy\s+)?table\b""".r

  test("the guard flags every way to cache a plan and nothing else") {
    val flagged = Seq("df.persist(StorageLevel.DISK_ONLY)", "df.persist", "df.cache()",
      "df.cache", "spark.catalog.cacheTable(\"t\")", "spark.sql(\"CACHE TABLE t\")",
      "spark.sql(\"cache lazy table t AS SELECT 1\")")
    val passed = Seq("Caches.lease(df)", "sharedState.cacheManager.cacheQuery(s, p, None, l)",
      "df.unpersist(blocking = false)", "val cached = Caches.lease(df)")
    assert(flagged.filterNot(bare.findFirstIn(_).isDefined).isEmpty)
    assert(passed.filter(bare.findFirstIn(_).isDefined).isEmpty)
  }

  test("no persist, cache, cacheTable or CACHE TABLE in src/main outside Caches") {
    val files = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && !allowed(p)).toSeq
    assert(allowed.forall(Files.exists(_)) && files.size > 50,
      s"scan found only ${files.size} sources under $root")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if bare.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("cache through graft.ops.Caches.lease:\n", "\n", ""))
  }
}
