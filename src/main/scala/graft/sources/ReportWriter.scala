package graft.sources

import java.io.Writer
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._
import graft.report.Report

/** S7: the multi-section CSV report sink + its splitter inverse
  * (reference report_generator.py:172-430 writer,
  * test/tools/report_splitter.py:27-40 section structure: sections
  * separated by blank lines).
  *
  * Two section shapes, two write paths:
  *  - aggregate sections (Category groups) are k-row by construction,
  *    so a driver-side render ([[sectionCsv]]) is bounded by report
  *    size;
  *  - the raw section and the per-group raw dumps are the FULL run
  *    set, so they are formatted on executors and written as ordered
  *    part files ([[writeSection]]) — the driver only streams the
  *    finished parts into the report file, never holding more than an
  *    IO buffer. No full-input `collect()` anywhere on the raw path.
  */
object ReportWriter {

  private[sources] def esc(v: Any): String = v match {
    case null => ""
    case s => s.toString.replace(",", ";").replace("\t", "\\t").replace("\n", "\\n")
  }

  /** [[esc]] as a Column expression — pure string functions, so the
    * formatting stays inside whole-stage codegen (a typed `df.map`
    * here forced every raw row through deserialization). */
  private def escCol(c: Column): Column =
    replace(
      replace(
        replace(coalesce(c.cast("string"), lit("")), lit(","), lit(";")),
        lit("\t"), lit("\\t")),
      lit("\n"), lit("\\n"))

  /** Escaped CSV lines, built on executors (no collect, no typed
    * map): each column escapes and the row joins with concat (NOT
    * concat_ws, which silently drops nulls — escCol has already
    * pinned null to ''). */
  private def csvLines(df: DataFrame): Dataset[String] = {
    val pieces = df.columns.zipWithIndex.flatMap { case (n, i) =>
      if (i == 0) Seq(escCol(df(n))) else Seq(lit(","), escCol(df(n)))
    }
    df.select(concat(pieces.toIndexedSeq: _*).as("line"))
      .as[String](Encoders.STRING)
  }

  /** Driver-side section render. ONLY for bounded aggregate sections
    * (k rows); raw sections must go through [[writeSection]]. */
  def sectionCsv(df: DataFrame): String = sectionLines(df).mkString("\n")

  /** Header line followed by the collected row lines. */
  private def sectionLines(df: DataFrame): Seq[String] =
    df.columns.mkString(",") +: csvLines(df).collect().toSeq

  /** Distributed section write: executors format rows and write one
    * text part file per partition; the driver then streams the part
    * files into `out` in partition-index order — the exact sequence a
    * `collect()` would have produced, so the report layout is
    * byte-identical to the driver-side render. Every line (header and
    * rows) is newline-terminated.
    *
    * At cluster scale the staging dir must be on shared storage
    * (HDFS/S3/warehouse dir); pass it via `staging`. Locally the
    * default temp dir suffices.
    */
  def writeSection(df: DataFrame, out: Writer,
      staging: Option[String] = None): Unit = {
    out.write(df.columns.mkString(","))
    out.write("\n")
    val tmp = staging match {
      case Some(root) =>
        Files.createDirectories(Paths.get(root))
        Files.createTempDirectory(Paths.get(root), "graft-section")
      case None => Files.createTempDirectory("graft-section")
    }
    try {
      val stage = tmp.resolve("parts")
      csvLines(df).write.text(stage.toString)
      val parts = Files.list(stage).iterator().asScala
        .filter(_.getFileName.toString.startsWith("part-"))
        .toSeq.sortBy(_.getFileName.toString)
      parts.foreach { p =>
        val reader = Files.newBufferedReader(p)
        try {
          var line = reader.readLine()
          while (line != null) {
            out.write(line); out.write("\n")
            line = reader.readLine()
          }
        } finally reader.close()
      }
    } finally deleteRecursively(tmp)
  }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      Files.walk(p).iterator().asScala.toSeq.reverse
        .foreach(Files.deleteIfExists(_))
    }

  /** The reference's report layout: preamble, raw section, successful
    * run count, one titled section per category (with unique-count
    * footer), raw dumps — sections separated by blank lines. Streamed
    * to `dir/baseName.csv` (with the `-N` dedupe of [[nextFreePath]]);
    * raw and per-group dumps go through the distributed path. */
  def writeReport(dir: String, baseName: String, title: String,
      s: Report.Sections, staging: Option[String] = None): String = {
    Files.createDirectories(Paths.get(dir))
    val path = nextFreePath(dir, baseName)
    val w = Files.newBufferedWriter(path)
    try {
      w.write(s"Report: $title\n\n")
      w.write("Raw results of each run:\n")
      writeSection(s.raw, w, staging)
      w.write(s"Successful Runs: ${s.successfulRuns}\n\n")
      s.groups.toSeq.sortBy(_._1).foreach { case (cat, df) =>
        w.write(s"Category $cat:\n")
        // the unique count is the collected row count, so the
        // section's group aggregate runs as one job, not two
        val lines = sectionLines(df)
        w.write(lines.mkString("\n")); w.write("\n")
        w.write(s"Total number of unique ${cat}s: ${lines.size - 1}\n\n")
      }
      s.rawOfGroups.toSeq.sortBy(_._1).foreach { case (cat, df) =>
        w.write(s"--- Runs of Group $cat ---\n")
        writeSection(df, w, staging)
        w.write("\n")
      }
    } finally w.close()
    path.toString
  }

  /** Full report as a string — test/debug convenience over
    * [[writeReport]] (one code path: raw sections stay distributed,
    * the string is read back from the finished file). */
  def reportCsv(name: String, s: Report.Sections): String = {
    val tmp = Files.createTempDirectory("graft-report")
    try Files.readString(
      Paths.get(writeReport(tmp.toString, "report", name, s)))
    finally deleteRecursively(tmp)
  }

  /** Filename `-N` dedupe (reference report_generator.py:464-505):
    * never overwrite an existing report. */
  private def nextFreePath(dir: String, baseName: String): Path = {
    var candidate = Paths.get(dir, s"$baseName.csv")
    var i = 0
    while (Files.exists(candidate)) {
      i += 1
      candidate = Paths.get(dir, s"$baseName-$i.csv")
    }
    candidate
  }

  /** Write pre-rendered report text with the `-N` dedupe. */
  def write(dir: String, baseName: String, text: String): String = {
    Files.createDirectories(Paths.get(dir))
    val path = nextFreePath(dir, baseName)
    Files.writeString(path, text)
    path.toString
  }

  /** Splitter inverse (report_splitter.py parity): break a report
    * back into blank-line-separated sections. */
  def split(text: String): Seq[String] =
    text.split("\n\\s*\n").toSeq.map(_.trim).filter(_.nonEmpty)

  /** The reference's standalone splitter tool on disk
    * (report_splitter.py:19-39): `<report> - split/` next to the
    * file, one `<section header, colon stripped>.csv` per
    * blank-line-separated section, keeping only comma-bearing lines
    * (headers and prose drop out — "makes importing into R
    * significantly easier"). No-op if the directory already exists,
    * exactly like the reference. Returns the written paths. */
  def splitToFiles(reportPath: String): Seq[String] = {
    val dir = Paths.get(reportPath.stripSuffix(".csv") + " - split")
    if (Files.exists(dir)) return Seq.empty
    Files.createDirectories(dir)
    split(Files.readString(Paths.get(reportPath))).flatMap { chunk =>
      val lines = chunk.split("\n")
      if (lines.length <= 1) None
      else {
        // the reference strips only ':' (report_splitter.py:30); we
        // additionally sanitize path-hostile chars so a header like
        // "../x" can't escape the split directory
        val name = lines.head.replace(":", "")
          .replaceAll("[^A-Za-z0-9 _\\-().]", "_")
        val out = dir.resolve(s"$name.csv")
        Files.writeString(out,
          lines.tail.filter(_.contains(",")).map(_ + "\n").mkString)
        Some(out.toString)
      }
    }
  }
}
