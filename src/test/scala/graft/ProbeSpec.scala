package graft

import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** graft.Probe's dump and plans modes: the dump format two trees are
  * byte-diffed on, loud-but-not-fatal failures, and the listener-based
  * plan capture that sees through an operator's eager `localCheckpoint`.
  */
class ProbeSpec extends SparkSpec {

  private def tmpDir(): String = Files.createTempDirectory("graft-probe").toString

  private def read(dir: String, name: String): String =
    Files.readString(Paths.get(dir, s"$name.txt"))

  /** (stdout, stderr, result) of `f`. */
  private def captured[A](f: => A): (String, String, A) = {
    val (out, err) = (new ByteArrayOutputStream, new ByteArrayOutputStream)
    val a = Console.withOut(out)(Console.withErr(err)(f))
    (out.toString("UTF-8"), err.toString("UTF-8"), a)
  }

  test("dump writes a header line and the sorted full result per query") {
    val dir = tmpDir()
    val names = Seq("q_agg", "q_filter_project")
    assert(captured(Probe.dump(spark, sfDir, dir, SparkEntry.queries, names))._3.isEmpty)
    names.foreach { name =>
      val df = SparkEntry.queries(name)(spark, sfDir)
      val rows = df.collect().map(_.toString).sorted
      assert(rows.nonEmpty, name)
      assert(read(dir, name) == s"# $name cols=${df.columns.mkString(",")} " +
        s"rows=${rows.length}\n" + rows.mkString("\n") + "\n", name)
    }
    // the exact bytes, on a literal frame
    val lit: (SparkSession, String) => DataFrame = (s, _) => {
      import s.implicits._
      Seq((2L, "b"), (1L, "a"), (3L, null)).toDF("k", "v")
    }
    assert(captured(Probe.dump(spark, sfDir, dir, Map("q_lit" -> lit), Seq("q_lit")))._3.isEmpty)
    assert(read(dir, "q_lit") == "# q_lit cols=k,v rows=3\n[1,a]\n[2,b]\n[3,null]\n")
  }

  test("dump reports a throwing query on stderr and still writes the others") {
    val dir = tmpDir()
    val broken: (SparkSession, String) => DataFrame =
      (_, _) => throw new IllegalStateException("deliberately broken")
    val qmap = SparkEntry.queries + ("q_broken" -> broken)
    Files.writeString(Paths.get(dir, "q_broken.txt"), "stale")
    val (_, err, failed) = captured(
      Probe.dump(spark, sfDir, dir, qmap, Seq("q_agg", "q_broken", "q_filter_project")))
    assert(failed == Seq("q_broken"))
    assert(err.contains("[dump] q_broken FAILED: deliberately broken"), err)
    assert(read(dir, "q_agg").startsWith("# q_agg cols="))
    assert(read(dir, "q_filter_project").startsWith("# q_filter_project cols="))
    assert(!Files.exists(Paths.get(dir, "q_broken.txt")), "a stale dump must not survive")
  }

  test("plans sees the localCheckpoint q_minhash_lsh runs while building, with its AQE-final pipeline") {
    val dir = tmpDir()
    val (out, _, failed) = captured(
      Probe.plans(spark, sfDir, dir, SparkEntry.queries, Seq("q_minhash_lsh")))
    assert(failed.isEmpty)
    assert(out.contains("build_actions=1 (localCheckpoint)"), out)
    val sections = read(dir, "q_minhash_lsh").split("(?m)^(?====== )").toSeq
    assert(sections.length == 2, sections.map(_.takeWhile(_ != '\n')))
    val (checkpoint, frame) = (sections.head, sections.last)
    assert(checkpoint.startsWith("===== q_minhash_lsh action 1/2 (build): localCheckpoint ====="))
    assert(checkpoint.contains("collect_up_to("), checkpoint)
    assert(checkpoint.contains("isFinalPlan=true"), checkpoint)
    assert(frame.startsWith("===== q_minhash_lsh action 2/2 (frame): collect ====="))
    assert(!frame.contains("collect_up_to("), "the returned frame reads the checkpoint")
  }
}
