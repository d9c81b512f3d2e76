package graft.engine

import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** A14 cell formatter against the type table in SURVEY §1.2
  * (/root/reference/src/arrow.ts:3-15), + A13/A19 via a real DataFrame. */
class RenderSpec extends AnyFunSuite {

  test("A14: null -> empty string") {
    assert(Render.formatCell(null) == "")
  }

  test("A14: integers and decimals render as plain decimal strings") {
    assert(Render.formatCell(42L) == "42")
    assert(Render.formatCell(new java.math.BigDecimal("12.30")) == "12.30")
    assert(Render.formatCell(1.5d) == "1.5")
    assert(Render.formatCell(true) == "true")
    assert(Render.formatCell("s") == "s")
  }

  test("A14: doubles/floats render as JS String(value)") {
    // integral doubles lose the '.0' (String(42.0) === "42")
    assert(Render.formatCell(42.0d) == "42")
    assert(Render.formatCell(-7.0d) == "-7")
    assert(Render.formatCell(1.5d) == "1.5")
    assert(Render.formatCell(-0.0d) == "0") // String(-0) === "0"
    // JS fixed-notation range is wider than Java's (Java switches to
    // E-notation at 1e7; JS at 1e21)
    assert(Render.formatCell(12345678.9d) == "12345678.9")
    assert(Render.formatCell(1e20) == "100000000000000000000")
    // JS exponent spelling outside [1e-6, 1e21)
    assert(Render.formatCell(1e21) == "1e+21")
    assert(Render.formatCell(1.5e-7) == "1.5e-7")
    // JDK 17 Double.toString is non-minimal here ("9.999999999999999E22");
    // JS String(1e23) === "1e+23" — shortestRepr restores parity
    assert(Render.formatCell(1e23) == "1e+23")
    assert(Render.formatCell(0.000001d) == "0.000001")
    // floats arrive in JS as the widened double
    assert(Render.formatCell(0.1f) == "0.10000000149011612")
    assert(Render.formatCell(2.5f) == "2.5")
    assert(Render.formatCell(Double.NaN) == "NaN")
    // JSON.stringify inside nested values: 42.0 -> 42, NaN -> null
    assert(Render.formatCell(Seq(42.0d, Double.NaN)) == "[42,null]")
  }

  test("A14: temporals render ISO-8601 UTC with milliseconds (JS shape)") {
    assert(Render.formatCell(java.sql.Timestamp.valueOf("1997-03-15 12:34:56"))
      == "1997-03-15T12:34:56.000Z") // JVM zone pinned UTC in build.sbt
    assert(Render.formatCell(LocalDate.of(1997, 3, 15))
      == "1997-03-15T00:00:00.000Z")
    assert(Render.formatCell(java.sql.Date.valueOf("1997-03-15"))
      == "1997-03-15T00:00:00.000Z")
  }

  test("A14: nested values render as JSON") {
    assert(Render.formatCell(Seq(1L, 2L)) == "[1,2]")
    assert(Render.formatCell(Map("k" -> "v\n")) == "{\"k\":\"v\\n\"}")
    assert(Render.formatCell(Seq(Seq("a"), null)) == "[[\"a\"],null]")
  }

  test("A13/A19: display limiter reports the true total") {
    val spark = graft.TestSpark.spark
    val df = spark.range(500).toDF("id")
    val page = Render.tableToRows(df.orderBy("id"), limit = 200)
    assert(page.columns == Seq("id"))
    assert(page.totalRows == 500 && page.shown == 200)
    assert(page.rows.head == Seq("0"))
    assert(Render.infoLine(page) ==
      "Linhas: 500 (mostrando 200) · Colunas: 1")
  }

  test("A14: decimals render plainly, never in exponent form") {
    assert(Render.formatCell(new java.math.BigDecimal("0E-8")) == "0.00000000")
    assert(Render.formatCell(Seq(new java.math.BigDecimal("1.0E-7"))) ==
      "[0.00000010]")
    val df = graft.TestSpark.spark.sql(
      "SELECT CAST(0 AS DECIMAL(18,8)) AS z, " +
        "CAST(0.0000001 AS DECIMAL(18,8)) AS t")
    assert(Render.tableToRows(df).rows == Seq(Seq("0.00000000", "0.00000010")))
  }

  // Its own session, so that the listener sees only this suite's queries.
  private lazy val counted = {
    val s = graft.TestSpark.spark.newSession()
    val executions = new AtomicInteger
    s.listenerManager.register(new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        executions.incrementAndGet()
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
        executions.incrementAndGet()
    })
    (s, executions)
  }

  /** The page of `df` and the number of Spark executions it ran. */
  private def pageWithExecutions(
      df: DataFrame, limit: Int): (Render.DisplayTable, Int) = {
    val (s, executions) = counted
    ListenerBusDrain.drain(s.sparkContext)
    executions.set(0)
    val page = Render.tableToRows(df, limit)
    ListenerBusDrain.drain(s.sparkContext)
    (page, executions.get)
  }

  test("A13: a page that fits runs one execution, an overflow two") {
    val s = counted._1
    val limit = 5
    for ((n, expectedExecutions) <- Seq(0 -> 1, limit -> 1, (limit + 1) -> 2)) {
      val (page, ran) =
        pageWithExecutions(s.range(n).toDF("id").orderBy("id"), limit)
      assert(page.totalRows == n, s"n=$n")
      assert(page.shown == math.min(n, limit), s"n=$n")
      assert(page.rows.headOption == (if (n == 0) None else Some(Seq("0"))))
      assert(ran == expectedExecutions, s"n=$n")
    }
  }

  test("A13: a fitting page of a non-deterministic result counts its own rows") {
    val df = counted._1.range(100).toDF("id").where("rand() < 0.5")
    val (page, ran) = pageWithExecutions(df, Render.DisplayLimit)
    assert(page.totalRows == page.shown)
    assert(ran == 1)
  }

  test("A13: the display limit must leave room for the look-ahead row") {
    val df = graft.TestSpark.spark.range(3).toDF("id")
    for (bad <- Seq(-1, Int.MaxValue)) {
      val e = intercept[IllegalArgumentException](Render.tableToRows(df, bad))
      assert(e.getMessage.contains(
        s"display limit must be in [0, ${Int.MaxValue}), got $bad"))
    }
    val empty = Render.tableToRows(df, 0)
    assert(empty.totalRows == 3 && empty.shown == 0)
    assert(Render.tableToRows(df, Int.MaxValue - 1).shown == 3)
  }
}
