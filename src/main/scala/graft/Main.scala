package graft

import graft.config.{AutoDetect, MappingConfig}
import graft.io.{Sinks, Sources}
import graft.pipeline.Transform

/** CLI driver over the declarative mapping config — the engine's
  * application face (replaces the reference's Streamlit flow, SURVEY §3):
  * read → optional codebook recode → transform → export.
  *
  * Usage:
  *   runMain graft.Main --input wave1.csv [--config mapping.json]
  *     [--codebook codebook.csv] [--out outDir] [--format parquet|csv|json|xlsx]
  *     [--save-config detected.json]
  *
  * Without --config, the mapping is auto-detected from headers
  * (guess_mapping heuristics) and can be persisted with --save-config
  * for reuse on the next wave.
  */
object Main {
  /** The documented flags, each taking one value. */
  private val Flags = Set("input", "config", "codebook", "out", "format", "save-config")

  /** `--flag value` pairs → flag map; an unknown flag, a flag without a
    * value or a stray value fails, naming it. */
  def parseArgs(args: Seq[String]): Map[String, String] = {
    def flag(k: String) = k.startsWith("--") && Flags(k.drop(2))
    args.grouped(2).map {
      case Seq(k, v) if flag(k) && !v.startsWith("--") => k.drop(2) -> v
      case k +: _ if flag(k) => throw new IllegalArgumentException(s"$k needs a value")
      case k +: _ => throw new IllegalArgumentException(
        s"unknown argument $k (flags: ${Flags.toSeq.sorted.map("--" + _).mkString(" ")})")
    }.toMap
  }

  def main(args: Array[String]): Unit = {
    val opts = parseArgs(args.toSeq)
    val input = opts.getOrElse("input",
      sys.error("--input <file.csv|.xlsx|.parquet> is required"))
    val outDir = opts.getOrElse("out", "graft_out")
    val format = opts.getOrElse("format", "parquet")

    val spark = GraftSession(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt,
      Some(sys.env.getOrElse("SPARK_MASTER", "local[*]")))

    val raw = Sources.readTable(spark, input)
    val cfg = opts.get("config").map(MappingConfig.load)
      .getOrElse(AutoDetect.guessMapping(raw))
    opts.get("save-config").foreach { p =>
      MappingConfig.save(cfg, p)
      println(s"[graft] mapping config written to $p")
    }
    val drift = MappingConfig.validate(cfg, raw)
    if (drift.nonEmpty)
      System.err.println(
        s"[graft] WARNING: config references columns missing from this wave " +
          s"(builders will skip them): ${drift.map { case (s, c) => s"$s=$c" }.mkString(", ")}")

    val codebook = opts.get("codebook")
      .map(Sources.readCodebook(spark, _)).getOrElse(Map.empty)

    val tables = Transform.run(raw, cfg, codebook)
    format match {
      case "parquet" => Sinks.writeParquet(tables, outDir)
      case "csv" => Sinks.writeCsv(tables, outDir)
      case "json" =>
        new java.io.File(outDir).mkdirs()
        Sinks.writeJsonBundle(tables, s"$outDir/bht_dashboard_ready.json")
      case "xlsx" =>
        new java.io.File(outDir).mkdirs()
        Sinks.writeExcel(tables, s"$outDir/bht_dashboard_ready.xlsx")
      case other => sys.error(s"unknown --format $other (parquet|csv|json|xlsx)")
    }
    println(s"[graft] ${tables.size} tables -> $outDir (${tables.keys.toSeq.sorted.mkString(", ")})")
    spark.stop()
  }
}
