package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import graft.kernel.Extract

/** CLI shim over the kernels — the reference's primary interface
  * (reference: exe/rika, lib/rika/cli/rika_command.rb). Local files only
  * (no Spark): detect/extract/stream one record per target, failure
  * taxonomy to stderr, exit 1 iff any target failed
  * (reference: lib/rika/cli/rika_command.rb:61).
  *
  * Supported flags (the machine-readable subset; presentation-only
  * formats are out of engine scope per SURVEY.md §2.9):
  *   -a            collect results into one JSON array (rika -a)
  *   -m- / -t-     drop metadata / text from output (rika -m/-t toggles)
  *   -s-           drop source
  *   -l N          max content length (-1 unlimited; 0 metadata-only)
  *   -k-           disable case-insensitive metadata key sort
  *   -J            pretty JSON (default compact)
  *   -f X          output format: j compact JSON (default), J pretty
  *                 JSON, y YAML, t text only (reference:
  *                 lib/rika/formatters.rb:10-27; i/inspect maps to J)
  *   -n            dry run: print classified targets + plan, exit 0
  *                 (reference: lib/rika/cli/rika_command.rb:256-281)
  *   --full-html   full-text HTML mode (default: main content)
  * Environment: GRAFT_OPTIONS prepends args (rika's RIKA_OPTIONS,
  * reference: lib/rika/cli/args_parser.rb:138-149).
  */
object Cli {

  final case class Opts(
      array: Boolean = false,
      source: Boolean = true,
      metadata: Boolean = true,
      text: Boolean = true,
      maxLen: Int = -1,
      keySort: Boolean = true,
      format: Char = 'j', // j compact JSON, J pretty, y YAML, t text
      dryRun: Boolean = false,
      fullHtml: Boolean = false,
      targets: Vector[String] = Vector.empty) {
    def pretty: Boolean = format == 'J'
  }

  def main(args: Array[String]): Unit = {
    val env = sys.env.get("GRAFT_OPTIONS").map(_.split("\\s+").toSeq).getOrElse(Nil)
    val (opts, issues0) = parse((env ++ args).toVector)
    if (opts.targets.isEmpty && issues0.isEmpty) {
      System.err.println("graft-cli: no targets specified")
      return // reference exits 0 on no targets (rika_command.rb:245-251)
    }
    val issues = scala.collection.mutable.ArrayBuffer[(String, String)]() ++ issues0
    val results = scala.collection.mutable.ArrayBuffer[String]()

    if (opts.dryRun) {
      // the reference's dry run prints parsed options + targets and exits 0
      // without touching any file content (rika_command.rb:256-281)
      val expanded = expandTargets(opts.targets, issues)
      println("Dry run: nothing will be extracted.")
      println(s"options: array=${opts.array} source=${opts.source} " +
        s"metadata=${opts.metadata} text=${opts.text} maxLen=${opts.maxLen} " +
        s"keySort=${opts.keySort} format=${opts.format} fullHtml=${opts.fullHtml}")
      expanded.foreach { p =>
        val kind = if (p.toString.contains("://")) "http" else "file"
        println(s"  $kind $p")
      }
      issues.foreach { case (k, t) => println(s"  issue $k $t") }
      return
    }

    expandTargets(opts.targets, issues).foreach { p =>
      val bytes =
        try Files.readAllBytes(p)
        catch {
          case _: java.io.IOException => issues += (("io_error", p.toString)); null
        }
      if (bytes != null) {
        if (bytes.isEmpty) issues += (("empty_file", p.toString))
        else {
          val out = Extract.extractBytes("file", bytes,
            Extract.Options(opts.maxLen, opts.fullHtml))
          out.issue match {
            case Some(is) => issues += ((is, p.toString))
            case None =>
              val rec = record(p.toString, out, opts)
              if (opts.array) results += rec
              else println(rec) // streaming mode: emit as parsed
          }
        }
      }
    }
    if (opts.array) println(results.mkString("[", ",", "]"))
    if (issues.nonEmpty) {
      System.err.println("bad targets:")
      issues.groupBy(_._1).toSeq.sortBy(_._1).foreach { case (k, vs) =>
        System.err.println(s"  $k: ${vs.map(_._2).sorted.mkString(", ")}")
      }
      sys.exit(1)
    }
  }

  private[graft] def parse(args: Vector[String]): (Opts, Vector[(String, String)]) = {
    var o = Opts()
    val issues = Vector.newBuilder[(String, String)]
    var i = 0
    while (i < args.length) {
      args(i) match {
        case "-a"          => o = o.copy(array = true)
        case "-m-"         => o = o.copy(metadata = false)
        case "-t-"         => o = o.copy(text = false)
        case "-s-"         => o = o.copy(source = false)
        case "-k-"         => o = o.copy(keySort = false)
        case "-J"          => o = o.copy(format = 'J')
        case "-n"          => o = o.copy(dryRun = true)
        case "--full-html" => o = o.copy(fullHtml = true)
        case "-f" if i + 1 < args.length =>
          args(i + 1) match {
            case "j" => o = o.copy(format = 'j')
            case "J" | "i" => o = o.copy(format = 'J')
            case "y" => o = o.copy(format = 'y')
            case "t" => o = o.copy(format = 't')
            case bad => issues += (("invalid_input", s"-f $bad"))
          }
          i += 1
        case "-l" if i + 1 < args.length =>
          // a non-numeric length is invalid input, not a crash
          args(i + 1).toIntOption match {
            case Some(n) => o = o.copy(maxLen = n)
            case None    => issues += (("invalid_input", s"-l ${args(i + 1)}"))
          }
          i += 1
        case flag if flag.startsWith("-") && flag != "-" =>
          issues += (("invalid_input", flag))
        case t => o = o.copy(targets = o.targets :+ t)
      }
      i += 1
    }
    (o, issues.result())
  }

  /** Glob expansion (reference: lib/rika/cli/args_parser.rb:214-233):
    * quoted wildcards expand here; directories are skipped.
    */
  private def expandTargets(targets: Vector[String],
      issues: scala.collection.mutable.ArrayBuffer[(String, String)]): Vector[Path] =
    targets.flatMap { t =>
      if (t.exists("*?[{".contains(_))) {
        val p = Paths.get(t)
        val dir = Option(p.getParent).getOrElse(Paths.get("."))
        val glob = p.getFileName.toString
        if (Files.isDirectory(dir)) {
          val ds = Files.newDirectoryStream(dir, glob)
          try ds.asScala.toVector.filter(Files.isRegularFile(_)).sorted
          finally ds.close()
        } else { issues += (("file_not_found", t)); Vector.empty }
      } else {
        val p = Paths.get(t)
        if (Files.isDirectory(p)) { issues += (("is_directory", t)); Vector.empty }
        else if (!Files.exists(p)) { issues += (("file_not_found", t)); Vector.empty }
        else Vector(p)
      }
    }

  private def record(source: String, out: Extract.Out, o: Opts): String =
    o.format match {
      case 'y' => recordYaml(source, out, o)
      case 't' => out.content
      case _   => recordJson(source, out, o)
    }

  /** Flat YAML document per record (reference -f y,
    * lib/rika/formatters.rb:19: YAML method option).
    */
  private def recordYaml(source: String, out: Extract.Out, o: Opts): String = {
    def ystr(s: String): String =
      "\"" + s.flatMap {
        case '"'  => "\\\""
        case '\\' => "\\\\"
        case '\n' => "\\n"
        case '\r' => "\\r"
        case '\t' => "\\t"
        case c if c < ' ' => f"\\x${c.toInt}%02x"
        case c => c.toString
      } + "\""
    val sb = new StringBuilder("---\n")
    if (o.source) sb.append(s"source: ${ystr(source)}\n")
    sb.append(s"content_type: ${ystr(out.contentType)}\n")
    if (o.metadata) {
      sb.append("metadata:\n")
      val entries = {
        val m = out.metadata.toSeq
        if (o.keySort) Extract.sortedByKey(m) else m
      }
      entries.foreach { case (k, v) => sb.append(s"  ${ystr(k)}: ${ystr(v)}\n") }
    }
    if (o.text) sb.append(s"text: ${ystr(out.content)}\n")
    sb.result()
  }

  private def recordJson(source: String, out: Extract.Out, o: Opts): String = {
    val fields = Vector.newBuilder[(String, String)]
    if (o.source) fields += (("source" -> jstr(source)))
    fields += (("content_type" -> jstr(out.contentType)))
    if (o.metadata) {
      val entries = {
        val m = out.metadata.toSeq
        if (o.keySort) Extract.sortedByKey(m) else m
      }
      fields += (("metadata" ->
        entries.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
          .mkString("{", ",", "}")))
    }
    if (o.text) fields += (("text" -> jstr(out.content)))
    val sep = if (o.pretty) ",\n  " else ","
    val (open, close) = if (o.pretty) ("{\n  ", "\n}") else ("{", "}")
    fields.result().map { case (k, v) => s"${jstr(k)}:$v" }
      .mkString(open, sep, close)
  }

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
