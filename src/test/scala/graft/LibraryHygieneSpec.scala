package graft

import graft.operators.{Dedup, VectorIndex}

/** Library hygiene: library verbs keep stdout (the bench's JSON
  * channel) clean, and `src/main` holds only the entry points the
  * project runs — no one-off probe mains accumulating beside them.
  */
class LibraryHygieneSpec extends SparkSpec {

  test("building a vector index and routing adaptive dedup print nothing on stdout") {
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    // a mean-dominated cone with no LSH contrast at 0.35: the dedup
    // verb logs its route decision (to the exact scorer) on every call
    val cone = (0L until 120L).map { i =>
      (i, Array.tabulate(26)(_ => (10.0 + rnd.nextGaussian()).toFloat.max(0f)), i % 3)
    }.toDF("vec_id", "embedding", "label").localCheckpoint()
    val home = graft.operators.IndexCache.tempDir("graft-hygiene") + "/idx"
    val out = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(out, true, "UTF-8")) {
      VectorIndex.buildFrom(spark, Tables.embeddings(spark, sfDir), home)
      Dedup.embeddingNearDupAuto(cone, 0.35, lshCrossover = 0.0).count()
    }
    val printed = out.toString("UTF-8")
    assert(printed.isEmpty, s"library code printed on stdout:\n$printed")
  }

  test("src/main defines no main outside the kept entry points") {
    val kept = Set("Bench", "Verify", "Explain", "SlopeBench", "FullCorpus", "OrganicCorpus",
      "GroupSwapMain", "LeaseHolderMain")
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    val objectDecl = """^\s*(?:private(?:\[\w+\])?\s+)?object\s+(\w+)""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val mains = files(root).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      // each `def main(` / `extends App` belongs to the closest object
      // declared above it
      lines.scanLeft(("", "")) { case ((obj, _), line) =>
        (objectDecl.findFirstMatchIn(line).fold(obj)(_.group(1)), line)
      }.collect {
        case (obj, line) if line.contains("def main(") || line.contains("extends App") =>
          s"${f.getName}:$obj"
      }
    }
    val extra = mains.filterNot(m => kept.contains(m.split(':')(1)))
    assert(mains.nonEmpty, "the scan found no mains at all")
    assert(extra.isEmpty, s"dev mains outside the kept entry points: ${extra.mkString(", ")}")
  }

  test("only graft.sources names or reads the tombstones table") {
    // the four standing indexes share one delete log (sources.Tombstones);
    // an index kind that spells the table's path or reads it itself has
    // forked the format again
    val owned = """"[^"]*\btombstones\b[^"]*"|def\s+(?:index)?[tT]ombstones\b""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val pkgs = Seq("operators", "api", "streaming", "pipelines")
      .map(p => new java.io.File(s"src/main/scala/graft/$p"))
    assert(pkgs.forall(_.isDirectory), s"run from the project root: ${pkgs.mkString(", ")}")
    val hits = pkgs.flatMap(files).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.collect {
        case (line, i) if owned.findFirstIn(line).isDefined => s"${f.getName}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"tombstone table handled outside graft.sources: ${hits.mkString(", ")}")
  }

  test("library packages read no environment variables") {
    // tuning lives in arguments and Spark conf; only the root package
    // (the mains and GraftSession) reads the process environment
    val envRead = """\bsys\.env\b|System\.getenv""".r
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val pkgs = Seq("operators", "api", "sources", "functions", "streaming", "pipelines")
      .map(p => new java.io.File(s"src/main/scala/graft/$p"))
    assert(pkgs.forall(_.isDirectory), s"run from the project root: ${pkgs.mkString(", ")}")
    val hits = pkgs.flatMap(files).filter(_.getName.endsWith(".scala")).flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      val lines = try src.getLines().toList finally src.close()
      lines.zipWithIndex.collect {
        case (line, i) if envRead.findFirstIn(line).isDefined => s"${f.getName}:${i + 1}"
      }
    }
    assert(hits.isEmpty, s"environment reads in library code: ${hits.mkString(", ")}")
  }
}
