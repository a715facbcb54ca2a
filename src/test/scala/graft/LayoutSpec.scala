package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The library ships only its two entry-point mains, the benchmark and
  * the correctness dump: probes, A/B tests, stress harnesses and dev
  * tools live under src/test. */
class LayoutSpec extends AnyFunSuite {

  private val allowed = Set("graft.Bench", "graft.Verify")

  /** `pkg.Object` for every `def main(` / `extends App` in `file`. */
  private def mains(file: Path): Seq[String] = {
    val src = Files.readString(file)
    val pkg = """(?m)^package\s+([\w.]+)""".r.findAllMatchIn(src)
      .map(_.group(1)).mkString(".")
    val objects = """\bobject\s+(\w+)""".r.findAllMatchIn(src).toSeq
    """\bdef\s+main\s*\(|\bextends\s+App\b""".r.findAllMatchIn(src).map { m =>
      val owner = objects.filter(_.start < m.start).lastOption
        .fold("<no object>")(_.group(1))
      s"$pkg.$owner"
    }.toSeq
  }

  private val root = Paths.get("src/main/scala")

  private def scalaFiles: Seq[Path] = {
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    Files.walk(root).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toSeq
  }

  test("src/main defines no main but graft.Bench and graft.Verify") {
    val found = scalaFiles.flatMap(f => mains(f).map(_ -> f))
    val extra = found.filterNot(m => allowed(m._1))
    assert(extra.isEmpty, "mains besides graft.Bench and graft.Verify: " +
      extra.map { case (o, f) => s"$o ($f)" }.mkString(", "))
    assert(found.map(_._1).toSet == allowed, s"scan missed graft.Bench or graft.Verify: $found")
  }

  /** Occurrences of `needle` per file under src/main/scala, for the
    * files that hold it. */
  private def occurrences(needle: String): Map[String, Int] =
    scalaFiles.map { f =>
      root.relativize(f).toString ->
        java.util.regex.Pattern.quote(needle).r
          .findAllMatchIn(Files.readString(f)).size
    }.filter(_._2 > 0).toMap

  test("each streaming state decision is spelled in one place") {
    // the committed-batch probe: the per-batch directory helper
    val probe = occurrences("batch=*/_SUCCESS")
    assert(probe == Map("graft/streaming/BatchDirs.scala" -> 1), probe)
    // checkpoint + trigger + foreachBatch wiring: Streams.foldSink
    val wiring = occurrences("option(\"checkpointLocation\"")
    assert(wiring == Map("graft/streaming/Streams.scala" -> 1), wiring)
    // the whole-table swap's backup naming: AtomicSwap
    val backup = occurrences("\"__old\"")
    assert(backup == Map("graft/core/AtomicSwap.scala" -> 1), backup)
  }

  test("each curation stage is spelled once") {
    val curation = "graft/text/Curation.scala"
    val streams = "graft/streaming/Streams.scala"
    // the gate chain: Curation.gateFlags is the one caller of the C4
    // doc-drop rule and of the Gopher gate, besides the standalone
    // tx_c4_clean operator query
    val drop = occurrences("c4DocDrop(")
    assert(drop == Map(curation -> 2, "graft/queries/TextQueries.scala" -> 1), drop)
    val tq = Files.readString(root.resolve("graft/queries/TextQueries.scala"))
    val c4Clean = tq.indexOf("def txC4Clean(")
    val call = tq.indexOf("c4DocDrop(")
    assert(c4Clean >= 0 && call > c4Clean && call < tq.indexOf("\n  }\n", c4Clean),
      "c4DocDrop( in TextQueries.scala outside txC4Clean")
    assert(occurrences("gopherGate(") == Map(curation -> 2))
    // the model gate: Curation.modelGate
    assert(occurrences("\"clf_pass\") === 1") == Map(curation -> 1))
    // the stage-count table: Curation.stageTable
    assert(occurrences("def stageRow").isEmpty)
    assert(occurrences("\"stage_idx\"") == Map(curation -> 3), occurrences("\"stage_idx\""))
    // the greedy old-wins near-dup drop rule and the capped candidate-id
    // probe: one private helper each in Streams
    assert(occurrences("Seq(\"id_b\"), \"left_semi\"").isEmpty)
    assert(occurrences(".otherwise(col(\"id_b\"))") == Map(streams -> 1))
    assert(occurrences("limit(100001)") == Map(streams -> 1))
    // the streaming exact dedup against the fingerprint index
    assert(occurrences(".agg(min(col(idCol)).as(idCol))") == Map(streams -> 1))
  }

  test("the latest-wins tables share one upsert core and one winner") {
    val merge = "graft/operators/Merge.scala"
    assert(!occurrences("latestWins(").contains("graft/streaming/Streams.scala"))
    // every call of latestWins in Merge.scala sits inside the core, whose
    // body ends at the first line that closes a member (two-space `}`)
    val src = Files.readString(root.resolve(merge))
    val core = src.indexOf("def upsert(")
    val coreEnd = src.indexOf("\n  }\n", core)
    val calls = """(?<!def )\blatestWins\(""".r.findAllMatchIn(src).map(_.start).toSeq
    assert(core >= 0 && coreEnd > core, s"no upsert core in $merge")
    assert(calls.nonEmpty && calls.forall(c => c > core && c < coreEnd),
      s"latestWins( called outside the upsert core at offsets $calls")
    // one winner selection (latestWins and readAsOf) and one
    // partition-rewrite commit (the core and forgetKeys)
    assert(occurrences("TopK.perKey(").get(merge).contains(1))
    assert(occurrences(".option(\"partitionOverwriteMode\"").get(merge).contains(1))
  }
}
