package graft.spark

import java.lang.management.ManagementFactory
import scala.io.Source
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkEntry

/** Driver-contract invariants. The value-level oracle comparison runs
  * in the driver (DuckDB) and in tools/check_oracles.py; these tests
  * pin the structural rules that make that comparison meaningful. */
class QueriesSpec extends AnyFunSuite {

  lazy val spark: SparkSession = Sessions.local(4, "graft-queries-spec")
  private val sf = "/root/testdata/sf0.001"

  test("every oracle key has a query implementation") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry (flagship) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query runs at sf0.001 and returns rows") {
    val empties = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      if (n == 0L) Some(name) else None
    }
    assert(empties.isEmpty, s"queries with empty results: $empties")
  }

  test("extraction parity query reports 100% span-sequence equality") {
    val r = SparkEntry.queries("extract_parity")(spark, sf).head()
    assert(r.getLong(0) == r.getLong(1),
      s"docs=${r.getLong(0)} matched=${r.getLong(1)}")
  }

  test("a repeated run of the dedup pair queries compiles no new classes (codegen cache fits)") {
    // a child JVM, so the shipped session is the first to generate code
    // whatever order the suites run in (the cache size is JVM-wide)
    val jvm = ManagementFactory.getRuntimeMXBean
    val cmd = Seq(s"${System.getProperty("java.home")}/bin/java") ++
      jvm.getInputArguments.asScala.filterNot(_.startsWith("-Xmx")) ++
      Seq("-Xmx1g", "-cp", jvm.getClassPath, CodegenReuseProbe.getClass.getName.stripSuffix("$"), sf)
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val out = Source.fromInputStream(proc.getInputStream).getLines().toVector
    assert(proc.waitFor() == 0, s"probe failed:\n${out.takeRight(40).mkString("\n")}")
    val counts = out.find(_.startsWith(CodegenReuseProbe.Marker))
      .getOrElse(fail(s"no probe result:\n${out.takeRight(40).mkString("\n")}"))
    val second = "second=(\\d+)".r.findFirstMatchIn(counts).get.group(1).toLong
    assert(second == 0L, s"second run recompiled generated classes: $counts")
  }

  test("oracle SQL only references md5 for hashing (cross-engine rule)") {
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      assert(!sql.contains("xxhash") && !sql.toLowerCase.contains("hash64"),
        s"$name uses an engine-specific hash")
    }
  }
}
