package graft

import graft.merge.LwwDedup
import graft.model.Offset
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import scala.util.Random

/** Dedup/ordering property tests (SURVEY.md §5.2.2): random event
  * permutations and batch shapes → identical winners; max_by path ≡ window
  * row_number path. */
/** top-level so Catalyst encoders/codegen see a public static class */
final case class Ev(repo: String, path: String, payload: String,
    fileIdx: Long, pos: Long, rowIdx: Long)

class LwwDedupSpec extends SparkSuite {
  import spark.implicits._

  private def randomEvents(seed: Long, n: Int, keys: Int): Seq[Ev] = {
    val rnd = new Random(seed)
    // deliberately collide (fileIdx,pos) across keys; offsets unique per event
    val offs = rnd.shuffle((0 until n).toList)
    offs.zipWithIndex.map { case (o, i) =>
      val k = rnd.nextInt(keys)
      Ev(s"r${k / 7}", s"p${k % 7}", s"v$i-${rnd.nextInt(1000)}",
        o / 100 + 1, (o % 100) / 3, o % 3)
    }
  }

  private def df(evs: Seq[Ev]) = evs.toDF()
    .withColumn("offset", struct($"fileIdx", $"pos", $"rowIdx"))
    .drop("fileIdx", "pos", "rowIdx")

  private def oracleWinners(evs: Seq[Ev]): Map[(String, String), String] =
    evs.groupBy(e => (e.repo, e.path)).view.mapValues(
      _.maxBy(e => Offset(e.fileIdx, e.pos, e.rowIdx))(Offset.ordering).payload
    ).toMap

  test("dedup picks each key's max-offset event (vs in-memory oracle)") {
    for (seed <- 1L to 3L) {
      val evs = randomEvents(seed, 500, 40)
      val got = LwwDedup.dedup(df(evs))
        .select($"repo", $"path", $"payload").collect()
        .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
      assert(got == oracleWinners(evs), s"seed=$seed")
    }
  }

  test("max_by dedup ≡ window row_number formulation") {
    val evs = randomEvents(7L, 800, 25)
    val base = df(evs)
    val deduped = LwwDedup.dedup(base).orderBy("repo", "path").collect()
    // window cross-check (SURVEY.md §2.2): row_number over offset desc == 1
    val w = Window.partitionBy($"repo", $"path").orderBy($"offset".desc)
    val windowed = base.withColumn("rn", row_number().over(w))
      .filter($"rn" === 1).drop("rn")
      .select(base.columns.map(col).toSeq: _*)
      .orderBy("repo", "path").collect()
    assert(windowed.sameElements(deduped), "window formulation diverged")
  }

  test("duplicate events (same offset, same image) collapse to one winner") {
    val evs = randomEvents(11L, 300, 20)
    val withDups = evs ++ evs.takeRight(120) ++ evs.take(50)
    val got = LwwDedup.dedup(df(Random.shuffle(withDups)))
      .select($"repo", $"path", $"payload").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getString(2)).toMap
    assert(got == oracleWinners(evs))
  }

  test("partitioning-invariant: same winners at 1, 3, 16 input partitions") {
    val evs = randomEvents(13L, 600, 30)
    val expected = LwwDedup.dedup(df(evs)).orderBy("repo", "path").collect()
    for (np <- Seq(1, 3, 16)) {
      val got = LwwDedup.dedup(df(evs).repartition(np))
        .orderBy("repo", "path").collect()
      assert(got.sameElements(expected), s"numPartitions=$np")
    }
  }
}
