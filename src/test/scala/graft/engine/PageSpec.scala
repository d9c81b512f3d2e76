package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import Render.DisplayTable

/** A17 search + A18 type-sniffing stable sort
  * (/root/reference/src/App.tsx:448-502). */
class PageSpec extends AnyFunSuite {

  private val t = DisplayTable(
    Seq("a", "b"),
    Seq(
      Seq("10", "x"),
      Seq("9", "Y"),
      Seq("", "z"),
      Seq("10", "w")),
    totalRows = 4)

  test("A17: case-insensitive substring over any cell") {
    assert(Page.searchRows(t, "y").rows == Seq(Seq("9", "Y")))
    assert(Page.searchRows(t, "  ").rows == t.rows) // blank query: no filter
    assert(Page.searchRows(t, "1").rows ==
      Seq(Seq("10", "x"), Seq("10", "w")))
  }

  test("A18: numeric strings compare numerically, not lexically") {
    assert(Page.compareCells("9", "10") < 0)
    assert(Page.compareCells("-2", "1") < 0)
    assert(Page.compareCells("2.50", "2.5") == 0)
  }

  test("A18: empties sort after values (ascending orientation)") {
    assert(Page.compareCells("", "1") > 0)
    assert(Page.compareCells("1", "") < 0)
    assert(Page.compareCells("", "") == 0)
  }

  test("A18: ISO dates/timestamps compare by instant") {
    assert(Page.compareCells("2024-02-01", "2024-01-31") > 0)
    assert(Page.compareCells(
      "2024-01-01T00:00:00.000Z", "2024-01-01T00:00:01.000Z") < 0)
    assert(Page.compareCells("2024-01-01 00:00:02", "2024-01-01 00:00:10") < 0)
  }

  test("A18: alphanumeric fallback is case-insensitive and digit-aware") {
    assert(Page.compareCells("file10", "file9") > 0)
    assert(Page.compareCells("ABC", "abd") < 0)
  }

  test("A18: sort is stable and direction flips the whole comparator") {
    val asc = Page.sortRows(t, 0, ascending = true)
    // 9 < 10 < 10 (stable: row0 before row3) < empty
    assert(asc.rows == Seq(
      Seq("9", "Y"), Seq("10", "x"), Seq("10", "w"), Seq("", "z")))
    val desc = Page.sortRows(t, 0, ascending = false)
    // reference semantics: dir multiplies everything, so empty FIRST desc
    assert(desc.rows == Seq(
      Seq("", "z"), Seq("10", "x"), Seq("10", "w"), Seq("9", "Y")))
  }

  test("A18: a text run that starts with a non-ASCII digit compares as text") {
    // "٣abc" is one \D+ run whose first character is a digit (U+0663)
    assert(Page.compareCells("٣abc", "٣abd") < 0)
    assert(Page.compareCells("٣abc", "7") == -Page.compareCells("7", "٣abc"))
    // a run made only of such digits still compares by value: ١٠ (10) > ٩ (9)
    assert(Page.compareCells("١٠", "٩") > 0)
  }
}
