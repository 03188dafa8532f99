package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.util.Try
import scala.util.matching.Regex

/** graft.Probe: the scale synthesizer behind every 10×/100× parity record,
  * and the shell wiring that launches graft's mains by name.
  */
class ProbeSpec extends SparkSpec {
  private val off = 1L << 40

  /** Re-keyed tables and the key columns each copy offsets. */
  private val rekeyed = Map(
    "documents" -> Seq("doc_id"),
    "embeddings" -> Seq("vec_id"),
    "orders" -> Seq("o_orderkey", "o_custkey"),
    "lineitem" -> Seq("l_orderkey", "l_suppkey"),
    "customer" -> Seq("c_custkey"),
    "supplier" -> Seq("s_suppkey"),
    "events" -> Seq("event_id", "user_id"),
    "nation" -> Seq("n_nationkey"))

  private lazy val out: String = {
    val dir = Files.createTempDirectory("graft_probe_synth").toString
    graft.sources.Tables.deleteOnExit(dir)
    Probe.synthFixture(spark, sf, dir, 2)
    dir
  }

  private def base(t: String): DataFrame = spark.read.parquet(s"$sf/$t.parquet")
  private def synth(t: String): DataFrame = spark.read.parquet(s"$out/$t.parquet")

  /** `a` and `b` hold the same multiset of rows. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  private def id(v: Any): Long = v.asInstanceOf[Number].longValue

  test("synth: re-keyed tables double, region and part are copied verbatim") {
    rekeyed.keys.foreach { t =>
      assert(synth(t).count() == 2 * base(t).count(), t)
    }
    Seq("region", "part").foreach(t => assert(sameRows(synth(t), base(t)), t))
  }

  test("synth: copy 1's keys are copy 0's plus 2^40, nation's plus 1000") {
    (rekeyed -- Seq("documents", "embeddings", "nation")).foreach { case (t, keys) =>
      val s = synth(t)
      val copy1 = keys.foldLeft(s.filter(col(keys.head) >= off))(
        (df, k) => df.withColumn(k, col(k) - off))
      assert(sameRows(s.filter(col(keys.head) < off), base(t)), s"$t copy 0")
      assert(sameRows(copy1, base(t)), s"$t copy 1")
    }
    Seq("documents" -> "doc_id", "embeddings" -> "vec_id").foreach { case (t, k) =>
      val ids = base(t).select(col(k).cast("long"))
      val s = synth(t)
      assert(sameRows(s.filter(col(k) < off).select(k), ids), s"$t copy 0")
      assert(sameRows(s.filter(col(k) >= off).select(col(k) - off), ids), s"$t copy 1")
    }
    val nation = synth("nation")
    val nation1 = nation.filter(col("n_nationkey") >= 1000)
    assert(nation1.filter(!col("n_name").endsWith("_C1")).isEmpty)
    assert(sameRows(nation.filter(col("n_nationkey") < 1000), base("nation")))
    assert(sameRows(
      nation1.withColumn("n_nationkey", col("n_nationkey") - 1000)
        .withColumn("n_name", expr("left(n_name, length(n_name) - 3)")),
      base("nation")))
  }

  test("synth: copy-1 documents keep stopwords and tag every other token c1") {
    val stop = graft.functions.TextFns.LangId.profiles.flatMap(_._2).toSet
    val docs = synth("documents").select("doc_id", "text").collect()
      .map(r => id(r.get(0)) -> Option(r.getString(1))).toMap
    val copy0 = docs.filter(_._1 < off)
    assert(copy0.nonEmpty && copy0.size * 2 == docs.size)
    var stopwords, tagged = 0
    copy0.foreach { case (k, text) =>
      val expected = text.map("\\S+".r.replaceAllIn(_, m =>
        Regex.quoteReplacement(
          if (stop(m.matched)) { stopwords += 1; m.matched }
          else { tagged += 1; "c1" + m.matched })))
      assert(docs(k + off) == expected, s"doc $k")
    }
    assert(stopwords > 0 && tagged > 0, s"stopwords $stopwords, tagged $tagged")
  }

  test("synth: embedding L2 norms are equal across copies") {
    val vecs = synth("embeddings").select("vec_id", "embedding").collect()
      .map(r => id(r.get(0)) -> r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue)).toMap
    def norm(v: Seq[Double]): Double = math.sqrt(v.map(x => x * x).sum)
    val copy0 = vecs.keys.filter(_ < off)
    assert(copy0.nonEmpty)
    copy0.foreach(k => assert(norm(vecs(k)) == norm(vecs(k + off)), s"vec $k"))
    // the sign flips happened: cross-copy vectors differ
    assert(copy0.exists(k => vecs(k) != vecs(k + off)))
  }

  test("every `runMain graft.<Name>` in the scripts and docs names an object with a main") {
    val files: Seq[Path] =
      new java.io.File("tools").listFiles((_, n) => n.endsWith(".sh")).toSeq.map(_.toPath) ++
        Seq(".claude/skills/verify/SKILL.md", "README.md", "docs/DEPLOY.md").map(Paths.get(_))
    val named = files.flatMap { p =>
      "runMain graft\\.(\\w+)".r.findAllMatchIn(Files.readString(p)).map(m => s"$p: ${m.group(1)}" -> m.group(1))
    }
    def hasMain(name: String): Boolean = Try {
      val module = Class.forName(s"graft.$name$$")
      module.getField("MODULE$")
      module.getMethod("main", classOf[Array[String]])
    }.isSuccess
    assert(named.exists(_._2 == "Probe"), "tools/sweep.sh launches graft.Probe")
    val broken = named.filterNot { case (_, name) => hasMain(name) }.map(_._1)
    assert(broken.isEmpty, s"runMain targets without a main: ${broken.mkString(", ")}")
  }
}
