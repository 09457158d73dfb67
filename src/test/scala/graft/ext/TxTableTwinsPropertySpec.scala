package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalacheck.rng.Seed

/** Model-based check that every copy-on-write DML and its
  * merge-on-read twin publish the same table. Each generated case
  * seeds two tables with the same keyed, bucketed rows, then applies a
  * random op sequence: the COW form of each op to one table, the MoR
  * form to the other, and the same op to a pure-Scala model (key →
  * value, bucket = key % 4). After every step, `read` at EVERY retained
  * version of both tables must equal the model at that version, row for
  * row (duplicates included), and `metaCount` must equal the model's
  * size; `readPoint` of one live key and of an absent one must agree
  * with the model too. Compaction and purges are interleaved on both
  * tables, so the twins are also checked across DV reconciliation. */
class TxTableTwinsPropertySpec extends SparkSpec {
  import spark.implicits._

  private val Buckets = 4L
  private val Keys = 24L

  private type Model = Map[Long, Long]

  private sealed trait Op
  /** delete rows whose value lies in [lo, hi] */
  private final case class Delete(lo: Long, hi: Long) extends Op
  /** v += delta for keys in [lo, hi] */
  private final case class Update(lo: Long, hi: Long, delta: Long) extends Op
  /** MERGE INTO with UNIQUE source keys: matched rows with a negative
    * source value delete (when `del`), else update to the source value
    * (when `upd`, only if the source value is larger when `ifGreater`);
    * unmatched rows with a non-negative source value insert (when `ins`) */
  private final case class MergeInto(
      src: Seq[(Long, Long)], del: Boolean, upd: Boolean, ifGreater: Boolean,
      ins: Boolean) extends Op
  /** op-column changeset with unique keys: `Some(v)` upserts (an insert
    * for an absent key unless `asUpdate`, else an update), `None` deletes */
  private final case class MergeCs(cs: Seq[(Long, Option[Long], Boolean)]) extends Op
  private case object Compact extends Op
  private case object Purge extends Op

  private val value = Gen.choose(-4L, 12L)
  private val keyRange = for {
    a <- Gen.choose(0L, Keys - 1); b <- Gen.choose(0L, Keys - 1)
  } yield (math.min(a, b), math.max(a, b))
  private def uniqueKeys(max: Int): Gen[Seq[Long]] =
    Gen.choose(0, max).flatMap(n => Gen.pick(n, 0L until Keys)).map(_.toSeq)

  private val op: Gen[Op] = Gen.frequency(
    3 -> (for { (lo, hi) <- keyRange } yield Delete(lo % 12 - 4, hi % 12 - 4)),
    3 -> (for { (lo, hi) <- keyRange; d <- Gen.choose(-3L, 3L) } yield Update(lo, hi, d)),
    3 -> (for {
      ks <- uniqueKeys(6); vs <- Gen.listOfN(ks.size, value)
      del <- Gen.prob(0.6); upd <- Gen.prob(0.7); gt <- Gen.prob(0.3)
      ins <- Gen.prob(0.7)
    } yield MergeInto(ks.zip(vs), del, upd, gt, ins)),
    3 -> (for {
      ks <- uniqueKeys(6)
      cs <- Gen.sequence[Seq[(Long, Option[Long], Boolean)], (Long, Option[Long], Boolean)](
        ks.map(k => for { v <- Gen.option(value); u <- Gen.prob(0.3) } yield (k, v, u)))
    } yield MergeCs(cs)),
    1 -> Gen.const(Compact),
    1 -> Gen.const(Purge))

  private val scenario: Gen[(Model, List[Op])] = for {
    ks <- Gen.choose(1, 16).flatMap(n => Gen.pick(n, 0L until Keys))
    vs <- Gen.listOfN(ks.size, value)
    n <- Gen.choose(2, 6)
    ops <- Gen.listOfN(n, op)
  } yield (ks.zip(vs).toMap, ops)

  private def step(m: Model, o: Op): Model = o match {
    case Delete(lo, hi) => m.filterNot { case (_, v) => v >= lo && v <= hi }
    case Update(lo, hi, d) =>
      m.map { case (k, v) => k -> (if (k >= lo && k <= hi) v + d else v) }
    case MergeInto(src, del, upd, gt, ins) =>
      src.foldLeft(m) { case (acc, (k, sv)) =>
        acc.get(k) match {
          case Some(_) if del && sv < 0L => acc - k
          case Some(tv) if upd && (!gt || sv > tv) => acc + (k -> sv)
          case Some(_) => acc
          case None if ins && sv >= 0L => acc + (k -> sv)
          case None => acc
        }
      }
    case MergeCs(cs) => cs.foldLeft(m) {
      case (acc, (k, Some(v), _)) => acc + (k -> v)
      case (acc, (k, None, _)) => acc - k
    }
    case Compact | Purge => m
  }

  private def frame(rows: Seq[(Long, Long)]): DataFrame =
    rows.map { case (k, v) => (k, v, k % Buckets) }.toDF("k", "v", "pb")

  private def changeSet(m: Model, cs: Seq[(Long, Option[Long], Boolean)]): DataFrame =
    cs.map {
      case (k, Some(v), asUpdate) =>
        (k, if (asUpdate || m.contains(k)) "update" else "insert", v, k % Buckets)
      case (k, None, _) => (k, "delete", 0L, k % Buckets)
    }.toDF("k", "op", "v", "pb")

  /** Apply `o` in its COW (`dv = false`) or MoR form; returns the
    * version the call reports. */
  private def apply(dir: String, dv: Boolean, before: Model, o: Op): Long = o match {
    case Delete(lo, hi) =>
      val pred = col("v").between(lo, hi)
      if (dv) TxTable.deleteWhereDv(spark, dir, pred)
      else TxTable.deleteWhere(spark, dir, pred, Some("pb"))
    case Update(lo, hi, d) =>
      val pred = col("k").between(lo, hi)
      val set = Seq("v" -> (col("v") + d))
      if (dv) TxTable.updateWhereDv(spark, dir, pred, set, Some("pb"))
      else TxTable.updateWhere(spark, dir, pred, set, Some("pb"))
    case MergeInto(src, del, upd, gt, ins) =>
      val args = (
        Option.when(del)(col("s.v") < 0L),
        if (upd) Seq("v" -> col("s.v")) else Seq.empty,
        Option.when(gt)(col("s.v") > col("t.v")),
        Option.when(ins)(col("s.v") >= 0L))
      if (dv) TxTable.mergeIntoDv(spark, dir, frame(src), "k", "pb",
        args._1, args._2, args._3, args._4)
      else TxTable.mergeInto(spark, dir, frame(src), "k", "pb",
        args._1, args._2, args._3, args._4)
    case MergeCs(cs) =>
      val ch = changeSet(before, cs)
      if (dv) TxTable.mergeChangeSetDv(spark, dir, ch, "k", "op", "pb")
      else TxTable.mergeChangeSet(spark, dir, ch, "k", "op", "pb")
    case Compact => TxTable.compact(spark, dir, "pb")
    case Purge => TxTable.purgeTombstoned(spark, dir, Some("pb"))
  }

  /** Every recorded version of one table read back in ONE job, checked
    * against the model of that version; returns the mismatches. */
  private def mismatches(dir: String, hist: Map[Long, Model]): Seq[String] = {
    val vs = hist.keys.toSeq.sorted
    val got = vs.map(v => TxTable.read(spark, dir, Some(v))
        .select(lit(v).as("ver"), col("k"), col("v"), col("pb").cast("long")))
      .reduce(_.unionByName(_))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1).map { case (v, rs) => v -> rs.map(_._2).toSeq.sorted }
    vs.flatMap { v =>
      val want = hist(v).toSeq.map { case (k, x) => (k, x, k % Buckets) }.sorted
      val read = got.getOrElse(v, Seq.empty)
      val count = TxTable.metaCount(spark, dir, Some(v))
      Option.when(read != want)(s"v$v read $read, model $want") ++
        Option.when(count != want.size.toLong)(s"v$v metaCount $count, model ${want.size}")
    }
  }

  /** `readPoint` at the latest version for one live key (the `i`-th in
    * key order, when any is live) and for key 1000, which lies outside
    * every file's stats range and so always takes the empty-slice
    * branch; returns the mismatches against the model. */
  private def pointMismatches(dir: String, m: Model, i: Int): Seq[String] = {
    val live = m.keys.toSeq.sorted
    (live.lift(i % math.max(live.size, 1)).toSeq :+ 1000L).flatMap { k =>
      val got = TxTable.readPoint(spark, dir, "k", Seq(k.toString))
        .select(col("k"), col("v"), col("pb").cast("long")).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      val want = m.get(k).map(v => (k, v, k % Buckets)).toSeq
      Option.when(got != want)(s"readPoint($k) $got, model $want")
    }
  }

  test("COW and MoR twins publish the model's rows at every retained version") {
    val prop = Prop.forAllNoShrink(scenario) { case (init, ops) =>
      graft.QueryUtil.inTempDir("graft_twins") { tmp =>
        val cow = s"$tmp/cow"; val mor = s"$tmp/mor"
        Seq(cow, mor).foreach(d => TxTable.commitReplace(spark, d, frame(init.toSeq),
          Some("pb"), statsCols = Seq("k", "v"), bloomCol = Some("k"), bloomBits = 256))
        var model = init
        var hist = Map(cow -> Map(1L -> init), mor -> Map(1L -> init))
        val failures = ops.zipWithIndex.flatMap { case (o, i) =>
          val next = step(model, o)
          val vCow = apply(cow, dv = false, model, o)
          val vMor = apply(mor, dv = true, model, o)
          model = next
          hist = Map(cow -> (hist(cow) + (vCow -> next)), mor -> (hist(mor) + (vMor -> next)))
          Seq(cow -> "cow", mor -> "mor").flatMap { case (d, name) =>
            (mismatches(d, hist(d)) ++ pointMismatches(d, next, i))
              .map(e => s"after step $i ($o) $name: $e")
          }
        }
        (failures.isEmpty: Prop) :| s"init $init, ops $ops\n${failures.mkString("\n")}"
      }
    }
    val res = SCTest.check(SCTest.Parameters.default
      .withMinSuccessfulTests(16)
      .withInitialSeed(Seed(20261017L)), prop)
    assert(res.passed, s"twins diverged from the model: $res")
  }
}
