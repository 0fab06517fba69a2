package graft.engine

import java.nio.file.{Files, Path}
import java.nio.file.attribute.PosixFilePermissions

import graft.SparkSpec

/** Runs external binaries as registered pipe ops ([[PipeMapOp]],
  * [[PipeReduce]]) through the one engine path — a JSON batch spec,
  * `Engine.run` and the `graft-kv` commit — with real child processes
  * (awk stands in for the reference's statically-linked map/reduce
  * binaries — same stdin/stdout line contract, README.md:14-44). */
class PipeModeSpec extends SparkSpec {

  /** map.cpp: tokenize → "word 1"; reduce.cpp: sum ints per key. */
  private val MapAwk = "awk '{for(i=1;i<=NF;i++) print $i, 1}'"
  private val ReduceAwk = "awk '{c[$1]+=$2} END {for(k in c) print k, c[k]}'"

  /** The wordcount lines "a b c", "a b c", "b z" as an input dir of two
    * files, and the spec running `mapOp` then `reduceOp` over it. */
  private def wordcountSpec(mapOp: String, reduceOp: String): BatchSpec = {
    val dir = Files.createTempDirectory("graft-pipe-")
    val in = Files.createDirectory(dir.resolve("in"))
    Files.writeString(in.resolve("0"), "a b c\na b c\n")
    Files.writeString(in.resolve("1"), "b z\n")
    BatchSpec.fromJson(
      s"""{"map_ops":["$mapOp"],"reduce_ops":["$reduceOp"],
         |"input_id":"$in","final_dest_dir_id":"${dir.resolve("out")}",
         |"r_num":2}""".stripMargin)
  }

  /** The job's committed output read back through `graft-kv`; a key that
    * appears twice fails. */
  private def counts(spec: BatchSpec): Map[String, String] = {
    val rows = spark.read.format("graft-kv").load(spec.finalDestDirId).collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(rows.map(_._1).distinct.length === rows.length, rows.mkString(", "))
    rows.toMap
  }

  private val Wordcount = Map("a" -> "2", "b" -> "3", "c" -> "2", "z" -> "1")

  test("map chain + reduce chain through external processes reproduces wordcount") {
    Ops.registerMap(PipeMapOp("awk-tokenize", MapAwk))
    Ops.registerReduce(PipeReduce("awk-sum", ReduceAwk))
    val spec = wordcountSpec("awk-tokenize", "awk-sum")

    // the key shuffle and both pipes are plan nodes: building the plan
    // runs nothing
    val (_, jobs) = jobsStartedBy(Engine.plan(spark, spec))
    assert(jobs.isEmpty, s"construction jobs: $jobs")

    Engine.run(spark, spec)
    assert(counts(spec) === Wordcount)
  }

  test("stdioCommand wraps the reference's -i/-o file contract, path shell-quoted") {
    assert(Ops.stdioCommand("/bin/mapbin") === "'/bin/mapbin' -i /dev/stdin -o /dev/stdout ")
    // a staging path with a space must exec as ONE command word
    assert(Ops.stdioCommand("/tmp/my tools/mapbin") ===
      "'/tmp/my tools/mapbin' -i /dev/stdin -o /dev/stdout ")
  }

  test("a real -i/-o binary that OPENS its file arguments runs the reference wordcount") {
    // Stand-ins for the reference's compiled map/reduce binaries
    // (WorkerImplTest.java:65-146): each parses -i <in> -o <out>, OPENS
    // both files itself (no stdin/stdout fallback in the script body), and
    // dies on missing args — so the test fails unless stdioCommand's
    // /dev/stdin + /dev/stdout wiring genuinely satisfies the file
    // contract end-to-end.
    def binary(dir: Path, name: String, body: String): String = {
      val p = dir.resolve(name)
      Files.writeString(
        p,
        s"""#!/bin/sh
           |in=""; out=""
           |while [ $$# -gt 0 ]; do
           |  case "$$1" in
           |    -i) in="$$2"; shift 2;;
           |    -o) out="$$2"; shift 2;;
           |    *) shift;;
           |  esac
           |done
           |[ -n "$$in" ] && [ -n "$$out" ] || { echo "missing -i/-o" >&2; exit 2; }
           |$body < "$$in" > "$$out"
           |""".stripMargin)
      Files.setPosixFilePermissions(p, PosixFilePermissions.fromString("rwxr-xr-x"))
      p.toString
    }

    val dir = Files.createTempDirectory("graft-pipe-bin-")
    Ops.registerMap(PipeMapOp("mapbin", Ops.stdioCommand(binary(dir, "mapbin", MapAwk))))
    Ops.registerReduce(PipeReduce("reducebin", Ops.stdioCommand(binary(dir, "reducebin", ReduceAwk))))
    val spec = wordcountSpec("mapbin", "reducebin")
    Engine.run(spark, spec)
    assert(counts(spec) === Wordcount)
  }
}
