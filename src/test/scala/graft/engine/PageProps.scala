package graft.engine

import org.scalacheck.{Gen, Prop, Properties}

/** ScalaCheck laws for the A18 type-sniffing comparator: `sortRows` is a
  * stable sort built on `compareCells`, so the comparator must be a
  * consistent weak ordering over arbitrary cell strings — antisymmetric
  * and sign-consistent — or sorting behavior becomes JVM-version- and
  * input-order-dependent (TimSort throws on inconsistent comparators). */
object PageProps extends Properties("Page") {

  // Cells of every sniffing class: empties, numerics, date-ish, free text.
  private val cell: Gen[String] = Gen.oneOf(
    Gen.const(""),
    Gen.chooseNum(-1000000L, 1000000L).map(_.toString),
    Gen.chooseNum(-99999, 99999).map(n => s"${n / 100}.${math.abs(n % 100)}"),
    Gen.chooseNum(0, 28).map(d => f"2024-01-${d + 1}%02d"),
    Gen.chooseNum(0, 23).map(h => f"2024-01-15T$h%02d:30:00"),
    Gen.alphaNumStr,
    Gen.asciiPrintableStr)

  property("antisymmetry: sign(cmp(a,b)) == -sign(cmp(b,a))") =
    Prop.forAll(cell, cell) { (a, b) =>
      math.signum(Page.compareCells(a, b)) ==
        -math.signum(Page.compareCells(b, a))
    }

  property("reflexivity: cmp(a,a) == 0") =
    Prop.forAll(cell) { a => Page.compareCells(a, a) == 0 }

  property("sorting any row set with the comparator never throws") =
    Prop.forAll(Gen.listOf(cell)) { cells =>
      val sorted = cells.sortWith((a, b) => Page.compareCells(a, b) < 0)
      sorted.length == cells.length
    }

  // Few distinct sort keys, so that ties are common.
  private val tieCell: Gen[String] = Gen.oneOf(
    "", " ", "10", "10.0", "9", "2024-01-02", "2024-01-02T00:00:00",
    "abc", "ABC", "file9", "file10")

  private def table(cells: List[String]) = Render.DisplayTable(
    Seq("v", "i"), cells.zipWithIndex.map { case (c, i) => Seq(c, i.toString) },
    cells.size.toLong)

  property("sortRows is the stable sort by compareCells, both directions") =
    Prop.forAll(Gen.listOf(Gen.oneOf(cell, tieCell)), Gen.oneOf(true, false)) {
      (cells, ascending) =>
        val t = table(cells)
        val dir = if (ascending) 1 else -1
        Page.sortRows(t, 0, ascending).rows == t.rows.sortWith(
          (a, b) => Page.compareCells(a(0), b(0)) * dir < 0)
    }

  property("sortRows keeps page order among equal cells") =
    Prop.forAll(Gen.listOf(tieCell), Gen.oneOf(true, false)) {
      (cells, ascending) =>
        val sorted = Page.sortRows(table(cells), 0, ascending).rows
        sorted.zip(sorted.drop(1)).forall { case (a, b) =>
          Page.compareCells(a(0), b(0)) != 0 || a(1).toInt < b(1).toInt
        }
    }
}
