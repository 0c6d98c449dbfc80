package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.model.Severity
import graft.parse.FormatRegistry

/** Measures the fixture corpus the generators draw from. Per fixture:
  * its bytes, the format `FormatRegistry` detects, its events, errors
  * and warnings, whether three back-to-back copies parse to three times
  * as many (`additive`), and the parse time of a ~1 MB expansion. The
  * fixture lists in `gen.py` and the corpus table in the README come
  * from its output.
  *
  * {{{
  *   perfbench.Calibrate <fixtureDir> <out.json>
  * }}}
  */
object Calibrate {
  /** One copy of a fixture as the generators repeat it: newline-ended. */
  def unit(content: String): String =
    if (content.endsWith("\n")) content else content + "\n"

  private def tallies(content: String): Seq[Long] = {
    val evs = FormatRegistry.parse(content)
    Seq(evs.size.toLong, evs.count(_.severity == Severity.Error).toLong,
      evs.count(_.severity == Severity.Warning).toLong)
  }

  def main(argv: Array[String]): Unit = {
    val Array(dir, out) = argv
    val files = Files.list(Paths.get(dir)).iterator().asScala
      .filter(Files.isRegularFile(_)).toSeq.sortBy(_.getFileName.toString)
    val rows = files.map { p =>
      val u = unit(new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
      val one = tallies(u)
      val three = tallies(u * 3)
      val big = u * math.max(1, (1 << 20) / u.length)
      (0 until 2).foreach(_ => FormatRegistry.parse(big))
      val ms = (0 until 3).map { _ =>
        val t = System.nanoTime(); FormatRegistry.parse(big)
        (System.nanoTime() - t) / 1e6
      }.min
      Map("name" -> p.getFileName.toString,
        "bytes" -> u.getBytes(StandardCharsets.UTF_8).length,
        "format" -> FormatRegistry.detect(u).map(_.format).getOrElse("none"),
        "events" -> one(0), "errors" -> one(1), "warnings" -> one(2),
        "additive" -> (three == one.map(_ * 3)),
        "parse_ms_per_mb" -> ms / (big.length / 1e6))
    }
    Files.writeString(Paths.get(out), Json.render(rows))
  }
}
