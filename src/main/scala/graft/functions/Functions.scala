package graft.functions

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.MetaSource

/** Scalar operator kernels from SURVEY.md §2.2/§2.6. Two forms where it
  * matters: a plain-Scala form (driver-side, e.g. over a filename at
  * config time) and a `Column` form (distributed, codegen'd builtins —
  * no UDFs) for per-row application at scale.
  */
object Functions {

  // ── T1: header normalization ──────────────────────────────────────
  /** `lower`, spaces and hyphens → underscores — and nothing else:
    * slashes and parens survive, which is why the analytics layer must
    * backtick-quote names like `company/organization`.
    * (reference: systemscripts/generic_import.py:392-394)
    */
  def normalizeName(name: String): String =
    name.toLowerCase.replace(" ", "_").replace("-", "_")

  /** Rename every column of `df` via [[normalizeName]]. Pure metadata
    * operation — no shuffle, no scan.
    */
  def normalizeColumns(df: DataFrame): DataFrame =
    df.toDF(df.columns.map(normalizeName).toIndexedSeq: _*)

  // ── T4: metadata extraction from filenames ────────────────────────
  /** Extract a metadata field (label or date string) from a filename,
    * per the config's source spec. Semantics mirror
    * `generic_import.py:86-125`:
    *   - Filename + numeric location: strip extension, split on the
    *     delimiter, take the index (None if out of range);
    *   - Filename + other location: regex search; group(1) if the
    *     pattern has groups, else the whole match;
    *   - Static: the location string itself;
    *   - FileContent: resolved later against the file's columns (the
    *     location names a column) — this function returns the location.
    */
  def parseMetadata(
      filename: String,
      source: MetaSource,
      location: Option[String],
      delimiter: Option[String]
  ): Option[String] = source match {
    case MetaSource.Filename =>
      (location, delimiter) match {
        case (Some(loc), Some(delim)) if loc.nonEmpty && loc.forall(_.isDigit) =>
          val base = filename.replaceAll("\\.[^.]*$", "")
          val parts = base.split(java.util.regex.Pattern.quote(delim), -1)
          val i = loc.toInt
          if (i < parts.length) Some(parts(i)) else None
        case (Some(loc), _) =>
          val m = loc.r.findFirstMatchIn(filename)
          m.map(mm => if (mm.groupCount >= 1) mm.group(1) else mm.matched)
        case _ => None
      }
    case MetaSource.Static | MetaSource.FileContent => location
  }

  /** Column form of the numeric-index filename split, for stamping
    * metadata in a distributed read (`input_file_name()` based).
    */
  def filenameToken(file: Column, delimiter: String, index: Int): Column = {
    val base = regexp_replace(regexp_extract(file, "([^/]+)$", 1), "\\.[^.]*$", "")
    // try_element_at (1-based) returns null out of range — the Column
    // analog of parseMetadata's None; plain element_at would THROW
    // under Spark 4's ANSI mode
    try_element_at(split(base, java.util.regex.Pattern.quote(delimiter)), lit(index + 1))
  }

  // ── T5: dataset-date parsing ──────────────────────────────────────
  /** Parse an extracted date token with the config's format, falling
    * back to today on failure (reference: generic_import.py:564-575).
    * Formats are java.time patterns; the reference's `%Y%m%dT%H%M%S`
    * maps to `yyyyMMdd'T'HHmmss`.
    */
  def parseDatasetDate(
      token: Option[String],
      format: String,
      today: LocalDate = LocalDate.now()
  ): LocalDate =
    token
      .flatMap { t =>
        try {
          val fmt = DateTimeFormatter.ofPattern(format)
          try Some(java.time.LocalDateTime.parse(t, fmt).toLocalDate)
          catch { case _: Exception => Some(LocalDate.parse(t, fmt)) }
        } catch { case _: Exception => None }
      }
      .getOrElse(today)

  /** Column form: timestamp-or-date parse with current_date fallback. */
  def parseDatasetDateCol(token: Column, format: String): Column =
    coalesce(
      to_date(to_timestamp(token, format)),
      to_date(token, format),
      current_date()
    )

  // ── T6: VARCHAR length policy ─────────────────────────────────────
  /** The reference's length rule (generic_import.py:183-193):
    * `min(int(max_observed * 1.5), 4000)`, and 255 when the column has
    * no observable max (all null → treated as empty string → 0 in the
    * reference only when rows exist; no rows at all → 255).
    */
  def safeLength(maxObserved: Option[Int]): Int =
    maxObserved.map(m => math.min((m * 1.5).toInt, 4000)).getOrElse(255)

  /** Distributed length inference: one aggregate pass, partial
    * (map-side) max per column — a single tiny shuffle regardless of
    * data size.
    */
  def inferLengths(df: DataFrame): Map[String, Int] = {
    if (df.columns.isEmpty) return Map.empty
    val aggs = df.columns.map(c =>
      max(length(coalesce(col(s"`$c`").cast("string"), lit("")))).as(c)
    )
    val row = df.agg(aggs.head, aggs.tail.toIndexedSeq: _*).head()
    df.columns.zipWithIndex.map { case (c, i) =>
      val m = if (row.isNullAt(i)) None else Some(row.getInt(i))
      c -> safeLength(m)
    }.toMap
  }

  /** T6/T7: truncate every string column to its target length after
    * null-normalizing to empty string (generic_import.py:446-456).
    * Returns the truncated frame; truncation counts are observable via
    * [[truncationCounts]] (the reference logs them).
    */
  def truncateTo(df: DataFrame, lengths: Map[String, Int]): DataFrame =
    lengths.foldLeft(df) { case (d, (c, n)) =>
      if (d.columns.contains(c))
        d.withColumn(c, substring(coalesce(col(s"`$c`").cast("string"), lit("")), 1, n))
      else d
    }

  def truncationCounts(df: DataFrame, lengths: Map[String, Int]): Map[String, Long] = {
    val present = lengths.filter { case (c, _) => df.columns.contains(c) }
    if (present.isEmpty) return Map.empty
    val aggs = present.toSeq.map { case (c, n) =>
      sum(when(length(coalesce(col(s"`$c`").cast("string"), lit(""))) > n, 1L).otherwise(0L)).as(c)
    }
    val row = df.agg(aggs.head, aggs.tail: _*).head()
    present.keys.zipWithIndex.map { case (c, i) =>
      c -> (if (row.isNullAt(i)) 0L else row.getLong(i))
    }.toMap
  }

  // ── T2: case-insensitive projection to a target schema ────────────
  /** Keep only source columns that case-insensitively match the target
    * column list, renamed to the target's casing and ordered like the
    * target (reference: generic_import.py:405-424). Returns the
    * projected frame plus the unmatched source/target names.
    */
  def projectToTarget(
      df: DataFrame,
      targetCols: Seq[String]
  ): (DataFrame, Seq[String], Seq[String]) = {
    val byLower = df.columns.map(c => c.toLowerCase -> c).toMap
    val matched = targetCols.flatMap(t => byLower.get(t.toLowerCase).map(s => s -> t))
    val matchedSrc = matched.map(_._1).toSet
    val unmatchedSrc = df.columns.filterNot(matchedSrc).toSeq
    val unmatchedTgt =
      targetCols.filterNot(t => byLower.contains(t.toLowerCase))
    val projected =
      if (matched.isEmpty) df.sparkSession.emptyDataFrame
      else df.select(matched.map { case (s, t) => col(s"`$s`").as(t) }: _*)
    (projected, unmatchedSrc, unmatchedTgt)
  }
}
