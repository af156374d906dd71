package graft.fuzz

import java.nio.file.{Files, Paths}

import graft.core.Json

/** Regenerates the pinned fuzz corpus into a JSON file for
  * tools/fuzz_expected.py (the DuckDB side of the differential).
  * Run: sbt "Test/runMain graft.fuzz.FuzzDump <out.json>". */
object FuzzDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/fuzz_queries.json")
    val json = FuzzSeed.corpus
      .map { case (id, sql) => s"${Json.quote(id)}: ${Json.quote(sql)}" }
      .mkString("{\n", ",\n", "\n}")
    Files.writeString(Paths.get(out), json)
    println(s"wrote ${FuzzSeed.corpus.size} queries to $out")
  }
}

/** THE pinned corpus — seed and size changes require regenerating
  * src/test/resources/fuzz_expected.json via tools/fuzz_expected.py. */
object FuzzSeed {
  val seed = 20260814L
  val n = 280
  lazy val corpus: Seq[(String, String)] = FuzzGen.queries(seed, n)
}
