package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** What the generator promised about one input set (its manifest.json). */
final case class Expected(dates: Seq[String], consentClean: Map[String, Long],
                          noconsentRows: Long, consentPrefix: String,
                          noconsentPrefix: String)

object Expected {
  def load(manifest: File): Expected = {
    val m = Json.mapper.readTree(manifest)
    Expected(
      m.get("dates").elements().asScala.map(_.asText).toSeq.sorted,
      m.get("consent_clean_rows").properties().asScala
        .map(e => e.getKey -> e.getValue.asLong).toMap,
      m.get("noconsent_clean_rows").properties().asScala.map(_.getValue.asLong).sum,
      m.get("gclid_prefix").get("consent").asText,
      m.get("gclid_prefix").get("noconsent").asText)
  }
}

/** The rows one run wrote: per artifact (`<date>/<file>`), its header and
  * its rows keyed by their leading identity cells. */
final case class Snapshot(files: Map[String, (String, Map[String, Array[String]])]) {

  /** The first difference from `other`, if any. Runs of the pipeline sum
    * the same doubles in an order that depends on shuffle fetch order, so
    * numeric cells agree to a relative 1e-9; every other cell agrees
    * exactly. */
  def differenceFrom(other: Snapshot): Option[String] =
    if (files.keySet != other.files.keySet) Some("different artifacts")
    else files.toSeq.sortBy(_._1).iterator.flatMap { case (name, (header, rows)) =>
      val (oHeader, oRows) = other.files(name)
      if (header != oHeader) Some(s"$name: header differs")
      else if (rows.keySet != oRows.keySet) Some(s"$name: different row keys")
      else rows.iterator.collectFirst { case (k, cells) if !Snapshot.same(cells, oRows(k)) =>
        s"$name: row $k differs: ${cells.mkString(",")} vs ${oRows(k).mkString(",")}"
      }
    }.nextOption()
}

object Snapshot {
  private def same(a: Array[String], b: Array[String]): Boolean =
    a.length == b.length && a.indices.forall { i =>
      a(i) == b(i) || ((a(i).toDoubleOption, b(i).toDoubleOption) match {
        case (Some(x), Some(y)) => math.abs(x - y) <= 1e-9 * math.max(math.abs(x), math.abs(y)) + 1e-12
        case _ => false
      })
    }
}

/** Checks one run's artifacts against the input's manifest:
  *  - exactly one adjustments_data.csv and one adjustments_summary.csv per
  *    date, and no other date directory;
  *  - adjusted rows per date == cleaned consent rows of that date;
  *  - Σ adjusted_conversion == total_matched_conversion_value per date
  *    (relative error ≤ 1e-9);
  *  - every gclid in adjustments_data.csv is a consent gclid, none is a
  *    noconsent gclid. */
object Check {
  final case class Outcome(problems: Seq[String], snapshot: Snapshot)

  private val DataFile = "adjustments_data.csv"
  private val SummaryFile = "adjustments_summary.csv"

  def apply(outDir: File, exp: Expected): Outcome = {
    val problems = Seq.newBuilder[String]
    val files = Map.newBuilder[String, (String, Map[String, Array[String]])]
    val dirs = Option(outDir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory && !f.getName.startsWith(".")).map(_.getName).sorted.toSeq
    if (dirs != exp.dates)
      problems += s"date directories ${dirs.mkString(",")} != ${exp.dates.mkString(",")}"
    for (date <- exp.dates if dirs.contains(date)) {
      val dir = new File(outDir, date)
      val names = dir.listFiles().map(_.getName).filterNot(_.startsWith(".")).sorted.toSeq
      if (names != Seq(DataFile, SummaryFile))
        problems += s"$date holds ${names.mkString(",")}, expected $DataFile and $SummaryFile"
      else {
        val (dh, data) = read(new File(dir, DataFile))
        val (sh, summary) = read(new File(dir, SummaryFile))
        val want = exp.consentClean(date)
        if (data.size != want)
          problems += s"$date: ${data.size} adjusted rows, expected $want cleaned consent rows"
        val gclid = dh.indexOf("gclid")
        val foreign = data.map(_(gclid)).filter(g =>
          g.startsWith(exp.noconsentPrefix) || !g.startsWith(exp.consentPrefix))
        if (foreign.nonEmpty)
          problems += s"$date: ${foreign.size} non-consent gclids in $DataFile, e.g. ${foreign.head}"
        val adjusted = data.map(_(dh.indexOf("adjusted_conversion")).toDouble).sum
        if (summary.size != 1)
          problems += s"$date: $SummaryFile has ${summary.size} rows, expected 1"
        else {
          val matched = summary.head(sh.indexOf("total_matched_conversion_value")).toDouble
          if (!(math.abs(adjusted - matched) <= 1e-9 * math.abs(matched)))
            problems += s"$date: sum(adjusted_conversion)=$adjusted but " +
              s"total_matched_conversion_value=$matched"
        }
        val ts = dh.indexOf("conversion_timestamp")
        files += s"$date/$DataFile" ->
          (dh.mkString(","), data.map(r => s"${r(gclid)}@${r(ts)}" -> r).toMap)
        files += s"$date/$SummaryFile" -> (sh.mkString(","), summary.map(date -> _).toMap)
      }
    }
    Outcome(problems.result(), Snapshot(files.result()))
  }

  /** Header and rows of one artifact. No cell the pipeline writes holds a
    * comma, so a plain split parses it. */
  private def read(f: File): (Seq[String], Seq[Array[String]]) = {
    val ls = Files.readAllLines(f.toPath, UTF_8).asScala.toSeq.filter(_.nonEmpty)
    (ls.head.split(",", -1).toSeq, ls.tail.map(_.split(",", -1)))
  }
}
