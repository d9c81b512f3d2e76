package graft.engine

import java.text.Collator
import java.util.Locale

import Render.DisplayTable

/** Client-side page operators over the ≤200-row display page — A17
  * (substring search) and A18 (type-sniffing stable sort); reference
  * `/root/reference/src/App.tsx:448-502`.
  *
  * These are DISPLAY-layer operators by design: they act on the collected,
  * stringified page, exactly like the reference (which filters/sorts the
  * rendered rows, not the result set). Engine-side equivalents for full
  * results are ordinary `filter`/`orderBy` (SURVEY §2 A17/A18 notes).
  */
object Page {

  /** A17: case-insensitive substring match against any cell
    * (`src/App.tsx:482-490`). */
  def searchRows(table: DisplayTable, query: String): DisplayTable = {
    val q = query.trim.toLowerCase
    if (q.isEmpty) table
    else table.copy(rows =
      table.rows.filter(_.exists(_.toLowerCase.contains(q))))
  }

  private val NumericPattern = "^-?\\d+(\\.\\d+)?$".r
  private val TokenPattern = "\\d+|\\D+".r

  // 'base' sensitivity ≈ PRIMARY strength (case- and accent-insensitive).
  // RuleBasedCollator.compare is synchronized, so one instance is shared.
  private val collator: Collator = {
    val c = Collator.getInstance(Locale.ROOT)
    c.setStrength(Collator.PRIMARY)
    c
  }

  /** Date.parse analog for the formats the page can contain (the formatter
    * emits ISO instants; raw strings may be dates or timestamps). */
  private def parseEpoch(s: String): Option[Long] = {
    import java.time._
    import scala.util.Try
    Try(Instant.parse(s).toEpochMilli)
      .orElse(Try(LocalDateTime.parse(s.replace(' ', 'T'))
        .toInstant(ZoneOffset.UTC).toEpochMilli))
      .orElse(Try(LocalDate.parse(s).atStartOfDay(ZoneOffset.UTC)
        .toInstant.toEpochMilli))
      .toOption
  }

  /** Everything `compareCells` derives from one cell, each part computed
    * at most once, so a sort parses every cell once instead of once per
    * comparison. */
  private final class CellKey(raw: String) {
    val text: String = Option(raw).fold("")(_.trim)
    lazy val numeric: Option[BigDecimal] =
      if (NumericPattern.matches(text)) Some(BigDecimal(text)) else None
    /** Epoch millis when the cell carries a date hint and parses. */
    lazy val epoch: Option[Long] =
      if (text.contains('-') || text.contains('T') || text.contains(':'))
        parseEpoch(text)
      else None
    /** Digit and text runs, each with its value when all its characters
      * are digits (`\d` is ASCII-only, so a run of other digits is a
      * text run that may still carry a value). */
    lazy val tokens: Vector[(String, Option[BigInt])] =
      TokenPattern.findAllIn(text).map { t =>
        (t, if (t.forall(_.isDigit)) Some(BigInt(t)) else None)
      }.toVector
  }

  /** localeCompare(numeric:true) analog: digit runs compare numerically,
    * text runs through a PRIMARY-strength collator. */
  private def alnumCompare(a: CellKey, b: CellKey): Int = {
    a.tokens.zip(b.tokens).foreach {
      case ((_, Some(x)), (_, Some(y))) =>
        val c = x.compare(y)
        if (c != 0) return c
      case ((x, _), (y, _)) =>
        val c = collator.compare(x, y)
        if (c != 0) return c
    }
    a.tokens.length - b.tokens.length match {
      case 0 => collator.compare(a.text, b.text) // tie-break full strings for stability
      case d => d
    }
  }

  private def compareKeys(a: CellKey, b: CellKey): Int =
    (a.text.isEmpty, b.text.isEmpty) match {
      case (true, true) => 0
      case (true, false) => 1
      case (false, true) => -1
      case _ =>
        (a.numeric, b.numeric) match {
          case (Some(x), Some(y)) => x.compare(y)
          case _ =>
            (a.epoch, b.epoch) match {
              case (Some(x), Some(y)) => java.lang.Long.compare(x, y)
              case _ => alnumCompare(a, b)
            }
        }
    }

  /** A18 comparator (`src/App.tsx:456-480`): empties sort after non-empty
    * values (in ascending orientation), numeric compare when both look
    * numeric, epoch compare when both carry date hints and parse, else
    * alphanumeric collation. NOTE the caller multiplies the WHOLE result by
    * the direction — including the empty branch — exactly like the
    * reference's `cmp * dir` (`src/App.tsx:497`), so under `desc` empties
    * come first. (SURVEY §2's "empty always last regardless of direction"
    * paraphrase is wrong about the reference code; the code is ground
    * truth.) */
  def compareCells(aRaw: String, bRaw: String): Int =
    compareKeys(new CellKey(aRaw), new CellKey(bRaw))

  /** A18: per-column toggle sort, stable (`src/App.tsx:492-502`): rows
    * that compare equal keep their page order. Each row's key is built once
    * before sorting. */
  def sortRows(table: DisplayTable, col: Int, ascending: Boolean): DisplayTable = {
    val dir = if (ascending) 1 else -1
    val keyed = table.rows.map(r => (r, new CellKey(r.lift(col).getOrElse(""))))
    // sortWith is stable, so equal keys keep their original order
    val sorted = keyed.sortWith((x, y) => compareKeys(x._2, y._2) * dir < 0)
    table.copy(rows = sorted.map(_._1))
  }
}
