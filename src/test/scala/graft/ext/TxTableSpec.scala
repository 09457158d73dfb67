package graft.ext

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every TxTable scenario, parameterized over the [[LogStore]] the
  * table runs on — the concrete suites at the bottom bind the default
  * HDFS/local-rename store and the conditional-PUT object-store
  * ([[ObjectStoreLogStore]] over the in-memory CAS double), so the
  * WHOLE battery — OCC conflicts, churn, vacuum, checkpoints, the
  * always-lose seam case — proves out on both coordination models. */
abstract class TxTableBehaviors extends SparkSpec {
  import scala.jdk.CollectionConverters._

  /** Bind the log store every scenario in this suite runs under. */
  protected def withStore[T](body: => T): T

  private def snap(n: Int): DataFrame = {
    import spark.implicits._
    (0 until n).map(i => (i.toLong, i * 10.0, (i % 4).toLong))
      .toDF("event_id", "value", "pbucket")
  }

  private def changes(): DataFrame = {
    import spark.implicits._
    Seq(
      (100L, "insert", 1000.0, 0L),
      (1L, "update", -1.0, 1L),
      (2L, "delete", 0.0, 2L)
    ).toDF("event_id", "op", "value", "pbucket")
  }

  // pbucket cast: partition-dir read-back infers INT where the source
  // column was LONG — value-identical, so normalize for set compare
  private def rows(df: DataFrame): Set[(Long, Double, Long)] =
    df.select(col("event_id"), col("value"), col("pbucket").cast("long"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet

  private def inDir[T](f: String => T): T =
    withStore(graft.QueryUtil.inTempDir("graft_tx")(f))

  /** byte-image of every data file under the table (path -> bytes). */
  private def dataBytes(dir: String): Map[String, Seq[Byte]] = {
    val root = java.nio.file.Paths.get(dir, "data")
    if (!java.nio.file.Files.isDirectory(root)) Map.empty
    else java.nio.file.Files.walk(root).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) && p.toString.endsWith(".parquet"))
      .map(p => p.toString -> java.nio.file.Files.readAllBytes(p).toSeq)
      .toMap
  }

  test("commitReplace + read round-trips; merge equals the batch Cdc apply") {
    inDir { dir =>
      val base = snap(12)
      val v1 = TxTable.commitReplace(spark, dir, base, Some("pbucket"))
      assert(v1 === 1L)
      assert(rows(TxTable.read(spark, dir)) === rows(base))
      val v2 = TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      assert(v2 === 2L)
      val expected = Cdc.applyChangeSet(base, changes(), "event_id", "op")
      assert(rows(TxTable.read(spark, dir)) === rows(expected))
    }
  }

  test("mergeInto: clause semantics, delete-over-update order, carry-forward byte identity") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      // source rows (all in pbucket 0/1 — partitions 2 and 3 untouched):
      //   id 0: matched, delete cond true AND update cond true -> deleted
      //   id 1: matched, update cond true -> value = t.value + s.bonus
      //   id 4: matched, no cond true -> kept verbatim
      //   id 100: unmatched, insert gate true -> inserted
      //   id 101: unmatched, insert gate false -> dropped
      val source = Seq(
        (0L, true, true, 7.0, 0L),
        (1L, false, true, 7.0, 1L),
        (4L, false, false, 7.0, 0L),
        (100L, false, false, 50.0, 0L),
        (101L, false, false, -50.0, 1L)
      ).toDF("event_id", "del", "upd", "bonus", "pbucket")
        .withColumn("value", col("bonus") * 2)
      val v2 = TxTable.mergeInto(spark, dir, source, "event_id", "pbucket",
        whenMatchedDelete = Some(col("s.del")),
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        whenMatchedUpdateCond = Some(col("s.upd")),
        whenNotMatchedInsert = Some(col("s.value") > 0))
      assert(v2 === 2L)
      val expected = rows(snap(12))
        .filterNot(_._1 == 0L)                           // deleted (delete wins)
        .map { case (id, v, b) => if (id == 1L) (id, v + 7.0, b) else (id, v, b) }
        .+((100L, 100.0, 0L))                            // inserted (value = bonus*2)
      assert(rows(TxTable.read(spark, dir)) === expected)
      // untouched partitions (2, 3) carry forward byte-identically
      val after = dataBytes(dir)
      beforeBytes.foreach { case (p, bytes) =>
        if (p.contains("pbucket=2") || p.contains("pbucket=3"))
          assert(after.get(p).contains(bytes), s"untouched file rewritten: $p")
      }
      // and version 1 still time-travels to the pre-merge content
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) === rows(snap(12)))
    }
  }

  test("mergeInto: NULL conditions are false; idempotent txn replay no-ops") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      val source = Seq(
        (2L, Option.empty[Boolean], 3.0, 2L),   // NULL update cond -> kept as-is
        (200L, Option.empty[Boolean], 9.0, 0L)  // NULL insert gate -> not inserted
      ).toDF("event_id", "gate", "bonus", "pbucket")
      val v2 = TxTable.mergeInto(spark, dir, source, "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        whenMatchedUpdateCond = Some(col("s.gate")),
        whenNotMatchedInsert = Some(col("s.gate")),
        txn = Some(("app-mi", 1L)))
      assert(v2 === 2L)
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)))
      // replaying the same (app, version) is a no-op at the current version
      val replay = TxTable.mergeInto(spark, dir, source, "event_id", "pbucket",
        whenNotMatchedInsert = Some(lit(true)),
        txn = Some(("app-mi", 1L)))
      assert(replay === 2L)
      assert(TxTable.latestVersion(spark, dir) === Some(2L))
    }
  }

  test("check constraints: add validates existing data; violating commit aborts atomically") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      // existing data violates -> the constraint itself is refused
      val e1 = intercept[TxTable.ConstraintViolationException] {
        TxTable.addCheckConstraint(spark, dir, "big", "value > 100")
      }
      assert(e1.getMessage.contains("existing rows violate"))
      assert(TxTable.latestVersion(spark, dir) === Some(1L))
      // a satisfiable constraint lands as a metadata-only commit:
      // zero data files moved, props visible
      val beforeBytes = dataBytes(dir)
      assert(TxTable.addCheckConstraint(spark, dir, "nonneg", "value >= 0") === 2L)
      assert(dataBytes(dir) === beforeBytes)
      // (the NDV hash-lane prop is set by every commitReplace — not
      // part of what this test governs)
      assert(TxTable.tableProperties(spark, dir) - TxTable.NdvLaneProp ===
        Map("constraint.nonneg" -> "value >= 0"))
      // a violating merge is rejected with version AND content intact
      val bad = Seq((50L, "insert", -5.0, 2L)).toDF("event_id", "op", "value", "pbucket")
      val e2 = intercept[TxTable.ConstraintViolationException] {
        TxTable.mergeChangeSet(spark, dir, bad, "event_id", "op", "pbucket")
      }
      assert(e2.getMessage.contains("nonneg"))
      assert(TxTable.latestVersion(spark, dir) === Some(2L))
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)))
      // NULL check results VIOLATE (CHECK must hold definitively)
      val nul = Seq((51L, "insert", Option.empty[Double], 3L))
        .toDF("event_id", "op", "value", "pbucket")
      intercept[TxTable.ConstraintViolationException] {
        TxTable.mergeChangeSet(spark, dir, nul, "event_id", "op", "pbucket")
      }
      // a clean merge passes; deleteWhere / updateWhere enforce too
      val ok = Seq((52L, "insert", 7.0, 0L)).toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, ok, "event_id", "op", "pbucket")
      intercept[TxTable.ConstraintViolationException] {
        TxTable.updateWhere(spark, dir, col("event_id") === 52L,
          Seq("value" -> lit(-1.0)), Some("pbucket"))
      }
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)) + ((52L, 7.0, 0L)))
    }
  }

  test("table properties survive full replaces and ride checkpoints") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      TxTable.setTableProperty(spark, dir, "owner", "pipeline-a")
      TxTable.addCheckConstraint(spark, dir, "nonneg", "value >= 0")
      // a full replace must NOT shed governance (constraints/props)
      TxTable.commitReplace(spark, dir, snap(6), Some("pbucket"))
      assert(TxTable.tableProperties(spark, dir) - TxTable.NdvLaneProp ===
        Map("owner" -> "pipeline-a", "constraint.nonneg" -> "value >= 0"))
      // the replace wrote a checkpoint; a reader replaying FROM that
      // checkpoint (no earlier manifests needed) still sees the props
      val m = TxTable.readManifest(spark, dir, 4L)
      assert(m.props("constraint.nonneg") === "value >= 0")
      // and enforcement still bites after the replace
      import spark.implicits._
      val bad = Seq((9L, "insert", -2.0, 1L)).toDF("event_id", "op", "value", "pbucket")
      intercept[TxTable.ConstraintViolationException] {
        TxTable.mergeChangeSet(spark, dir, bad, "event_id", "op", "pbucket")
      }
    }
  }

  test("reader at version N-1 is byte-stable while version N commits") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val v1Rows = rows(TxTable.read(spark, dir, versionAsOf = Some(1L)))
      val v1Bytes = dataBytes(dir)
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      // every pre-existing data file is byte-identical after the commit
      val after = dataBytes(dir)
      v1Bytes.foreach { case (p, bytes) =>
        assert(after.get(p).contains(bytes), s"file mutated by commit: $p")
      }
      // and the time-travel read returns exactly the old content
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) === v1Rows)
    }
  }

  test("conflicting commit throws and leaves the table at the winner's version") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      // winner publishes version 2
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      val winner = rows(TxTable.read(spark, dir))
      // the losing writer raced from base 1 (it read the table before
      // the winner's commit): its publication of version 2 conflicts
      import spark.implicits._
      val competing = Seq((200L, "insert", 5.0, 3L))
        .toDF("event_id", "op", "value", "pbucket")
      val e = intercept[TxTable.CommitConflictException] {
        TxTable.mergeChangeSet(spark, dir, competing, "event_id", "op",
          "pbucket", expectedBase = Some(1L))
      }
      assert(e.getMessage.contains("concurrent writer won"))
      // the table is exactly the winner's version — nothing from the
      // losing merge leaked
      assert(TxTable.latestVersion(spark, dir) === Some(2L))
      assert(rows(TxTable.read(spark, dir)) === winner)
    }
  }

  test("a crashed commit (data written, manifest never published) leaves N-1; vacuum reclaims") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      val before = rows(TxTable.read(spark, dir))
      // simulate the crash: orphan data files, no manifest
      snap(3).write.parquet(s"$dir/data/v2-deadbeef")
      assert(TxTable.latestVersion(spark, dir) === Some(1L))
      assert(rows(TxTable.read(spark, dir)) === before)
      // freshly written orphans are SPARED by the default retention (an
      // in-flight commit looks exactly like this) — reclamation needs
      // the explicit no-writers override
      assert(TxTable.vacuum(spark, dir) === 0)
      val reclaimed = TxTable.vacuum(spark, dir, retentionMs = 0L)
      assert(reclaimed >= 1)
      // the live version is untouched by vacuum
      assert(rows(TxTable.read(spark, dir)) === before)
      assert(TxTable.vacuum(spark, dir, retentionMs = 0L) === 0)
    }
  }

  test("emptied partition has no files in the new version, still time-travels") {
    inDir { dir =>
      // bucket 3 holds only event_id 3 and 7 in snap(8)
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      import spark.implicits._
      val killBucket3 = Seq(
        (3L, "delete", 0.0, 3L), (7L, "delete", 0.0, 3L)
      ).toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, killBucket3, "event_id", "op", "pbucket")
      val m2 = TxTable.readManifest(spark, dir, 2L)
      assert(!m2.files.exists(_.bucket.contains("3")), "emptied bucket must vanish")
      assert(TxTable.readPruned(spark, dir, Set("3")).count() === 0L)
      assert(TxTable.readPruned(spark, dir, Set("3"), versionAsOf = Some(1L)).count() === 2L)
    }
  }

  test("compact: one file per fragmented partition, content identical, old version intact") {
    inDir { dir =>
      // 6 files per bucket -> fragmented
      TxTable.commitReplace(spark, dir, snap(48).repartition(6), Some("pbucket"))
      val m1 = TxTable.readManifest(spark, dir, 1L)
      assert(m1.files.groupBy(_.bucket).exists(_._2.size > 1), "setup must fragment")
      val before = rows(TxTable.read(spark, dir))
      val v2 = TxTable.compact(spark, dir, "pbucket")
      assert(v2 === 2L)
      val m2 = TxTable.readManifest(spark, dir, 2L)
      assert(m2.files.groupBy(_.bucket).forall(_._2.size == 1),
        "every partition must be a single file after compaction")
      assert(rows(TxTable.read(spark, dir)) === before)
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) === before)
      // idempotent: nothing fragmented -> no new version
      assert(TxTable.compact(spark, dir, "pbucket") === 2L)
    }
  }

  test("manifest NDV: per-file HLL sketches, EXACT merge law across compaction, log-only answers") {
    inDir { dir =>
      import spark.implicits._
      val n = 400
      val df = (0 until n).map(i => (i.toLong, (i % 37).toLong, (i % 4).toLong))
        .toDF("event_id", "cat", "pbucket")
      TxTable.commitReplace(spark, dir, df.repartition(6), Some("pbucket"),
        statsCols = Seq("event_id", "cat"))
      val m1 = TxTable.readManifest(spark, dir, 1L)
      assert(m1.files.forall(_.hll.keySet === Set("event_id", "cat")),
        "every stats column must carry a register sketch per file")
      def merged(m: TxTable.Manifest, c: String): Array[Byte] =
        m.files.map(f => java.util.Base64.getDecoder.decode(f.hll(c)))
          .reduce(Hll.mergeRegisters)
      // composition: merged per-file sketches == one sketch of the column
      val whole = df.agg(HllRegs.agg(Hll.hash60(col("event_id"))))
        .collect().head.getAs[Array[Byte]](0)
      assert(java.util.Arrays.equals(merged(m1, "event_id"), whole),
        "per-file sketches must merge to the whole-column sketch, byte for byte")
      // log-only estimates inside HLL's error envelope
      val estId = TxTable.metaNdv(spark, dir, "event_id").get
      assert(math.abs(estId - n) / n < 0.2, s"event_id NDV estimate $estId vs $n")
      val estCat = TxTable.metaNdv(spark, dir, "cat").get
      assert(math.abs(estCat - 37.0) / 37.0 < 0.2, s"cat NDV estimate $estCat vs 37")
      assert(TxTable.metaNdv(spark, dir, "nope") === None)
      // detail surfaces the same rounded estimates, manifest-only
      val d = TxTable.detail(spark, dir).collect().head
      assert(d.getAs[String]("ndv") ===
        s"cat=${math.round(estCat)},event_id=${math.round(estId)}")
      // compaction rewrites every file; the merged state must be
      // BYTE-IDENTICAL (same rows, and registers are row-set maxima —
      // partitioning cannot leak into the sketch)
      TxTable.compact(spark, dir, "pbucket")
      val m2 = TxTable.readManifest(spark, dir, 2L)
      assert(m2.files.map(_.path).toSet !== m1.files.map(_.path).toSet,
        "setup: compaction must actually rewrite")
      assert(java.util.Arrays.equals(merged(m2, "event_id"), merged(m1, "event_id")))
      assert(java.util.Arrays.equals(merged(m2, "cat"), merged(m1, "cat")))
      assert(TxTable.metaNdv(spark, dir, "cat") === Some(estCat))
      // under deletion vectors the sketches are STALE-BUT-CONSERVATIVE
      // (same contract as range stats: deletes only shrink the value
      // set, the estimate can only over-count) — metaNdv still answers,
      // unchanged, instead of throwing like the exactness-contracted
      // metaRange does
      TxTable.deleteWhereDv(spark, dir, col("event_id") < 100L)
      assert(TxTable.metaNdv(spark, dir, "event_id") === Some(estId),
        "DV deletes must not change (or break) the log-only NDV answer")
      intercept[RuntimeException] { TxTable.metaRange(spark, dir, "event_id") }
    }
  }

  test("metaSummary answers count + range from one manifest read, " +
      "identical to the single-question faces at every version") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(24), Some("pbucket"),
        statsCols = Seq("event_id"))
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      (1L to 2L).foreach { v =>
        val (n, range) = TxTable.metaSummary(spark, dir, "event_id", Some(v))
        assert(n === TxTable.metaCount(spark, dir, Some(v)))
        assert(range === TxTable.metaRange(spark, dir, "event_id", Some(v)))
      }
      // defaults to the latest version, like the single-question faces
      val (nNow, rNow) = TxTable.metaSummary(spark, dir, "event_id")
      assert(nNow === TxTable.metaCount(spark, dir))
      assert(rNow === TxTable.metaRange(spark, dir, "event_id"))
      // the exactness contract still fails loud through the batched face
      TxTable.deleteWhereDv(spark, dir, col("event_id") === 0L)
      intercept[RuntimeException] { TxTable.metaSummary(spark, dir, "event_id") }
    }
  }

  test("changesBetween inverts mergeChangeSet: apply(read(v1), diff(v1,v3)) == read(v3)") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      import spark.implicits._
      val more = Seq((101L, "insert", 7.0, 1L), (4L, "update", 44.0, 0L))
        .toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, more, "event_id", "op", "pbucket")
      val diff = TxTable.changesBetween(spark, dir, 1L, 3L, "event_id")
      val replayed = Cdc.applyChangeSet(
        TxTable.read(spark, dir, versionAsOf = Some(1L)), diff, "event_id", "op")
      assert(rows(replayed) === rows(TxTable.read(spark, dir, versionAsOf = Some(3L))))
      // ... and the op classification is the net one
      val ops = diff.select("event_id", "op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toMap
      assert(ops(100L) === "insert" && ops(101L) === "insert")
      assert(ops(2L) === "delete")
      assert(ops(1L) === "update" && ops(4L) === "update")
    }
  }

  test("changesBetween reads only partitions whose manifest file sets differ") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(16), Some("pbucket"))
      import spark.implicits._
      // touch ONLY bucket 2
      val only2 = Seq((2L, "update", -2.0, 2L)).toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, only2, "event_id", "op", "pbucket")
      val diff = TxTable.changesBetween(spark, dir, 1L, 2L, "event_id")
      val files = diff.inputFiles.toSet
      assert(files.nonEmpty && files.forall(_.contains("pbucket=2")),
        s"untouched partitions must never be read: $files")
      assert(diff.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        === Seq((2L, "update")))
    }
  }

  test("additive schema evolution: new column NULL for carried rows, absent at v1") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      import spark.implicits._
      val evolved = Seq(
        (100L, "insert", 1000.0, 0L, "feed"),
        (1L, "update", -1.0, 1L, "feed")
      ).toDF("event_id", "op", "value", "pbucket", "src")
      val e = intercept[IllegalArgumentException] {
        // without evolveSchema the new column must be rejected, not
        // silently dropped
        TxTable.mergeChangeSet(spark, dir, evolved, "event_id", "op", "pbucket")
      }
      assert(e.getMessage.contains("src"), e.getMessage)
      TxTable.mergeChangeSet(spark, dir, evolved, "event_id", "op", "pbucket",
        evolveSchema = true)
      val v2 = TxTable.read(spark, dir)
      assert(v2.columns.contains("src"))
      val bySrc = v2.select(col("event_id"), col("src")).collect()
        .map(r => r.getLong(0) -> Option(r.getString(1))).toMap
      assert(bySrc(100L) === Some("feed") && bySrc(1L) === Some("feed"))
      // carried rows — both same-partition survivors and untouched
      // partitions — read NULL
      assert(bySrc(4L) === None, "kept row in a touched partition")
      assert(bySrc(2L) === None, "row in an untouched partition")
      // version 1 time-travels WITHOUT the column
      assert(!TxTable.read(spark, dir, versionAsOf = Some(1L)).columns.contains("src"))
    }
  }

  test("two concurrent writers with retry both land; result equals sequential apply") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      import spark.implicits._
      // disjoint key ranges -> order-independent final state
      val left = Seq((200L, "insert", 2.0, 0L), (1L, "delete", 0.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      val right = Seq((300L, "insert", 3.0, 3L), (2L, "update", 22.0, 2L))
        .toDF("event_id", "op", "value", "pbucket")
      val start = new java.util.concurrent.CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val ts = Seq(left, right).map { cs =>
        new Thread(() => {
          start.await()
          try TxTable.withConflictRetry(maxRetries = 10) {
            TxTable.mergeChangeSet(spark, dir, cs, "event_id", "op", "pbucket")
          }
          catch { case t: Throwable => errs.add(t) }
        })
      }
      ts.foreach(_.start()); start.countDown(); ts.foreach(_.join(120000))
      assert(errs.isEmpty, s"writers must both land: ${errs.peek()}")
      assert(TxTable.latestVersion(spark, dir) === Some(3L))
      val expected = rows(Cdc.applyChangeSet(
        Cdc.applyChangeSet(snap(12), left, "event_id", "op"),
        right, "event_id", "op"))
      assert(rows(TxTable.read(spark, dir)) === expected)
      // the losing attempts' orphan files are reclaimable
      TxTable.vacuum(spark, dir, retentionMs = 0L)
      assert(rows(TxTable.read(spark, dir)) === expected)
    }
  }

  test("manifest min/max stats skip files for range reads; conservative without stats") {
    inDir { dir =>
      import spark.implicits._
      val data = (0L until 800L).map(i => (i, i * 1.0)).toDF("event_id", "value")
      TxTable.commitReplace(spark, dir,
        data.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
        partitionCol = None, statsCols = Seq("event_id"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.forall(_.stats.contains("event_id")))
      val ranged = TxTable.readRange(spark, dir, "event_id", 100L, 199L)
      // rows are exact...
      assert(ranged.agg(count(lit(1)), sum("event_id")).collect().head match {
        case r => r.getLong(0) === 100L && r.getLong(1) === (100L to 199L).sum
      })
      // ...and the scan touched a strict subset of the files
      assert(ranged.inputFiles.length < m.files.size,
        s"expected skipping: ${ranged.inputFiles.length} of ${m.files.size}")
      // a column with no recorded stats reads everything, still exact
      val noStats = TxTable.readRange(spark, dir, "value", 100L, 199L)
      assert(noStats.inputFiles.length === m.files.size)
      assert(noStats.count() === 100L)
    }
  }

  test("deleteWhere/updateWhere rewrite only files containing matches") {
    inDir { dir =>
      import scala.jdk.CollectionConverters._
      TxTable.commitReplace(spark, dir, snap(16), Some("pbucket"))
      val before = dataBytes(dir)
      // event_id 5 lives in pbucket=1 only
      val v2 = TxTable.deleteWhere(spark, dir, col("event_id") === 5L, Some("pbucket"))
      assert(v2 === 2L)
      val after = dataBytes(dir)
      // every pre-existing file still byte-identical (immutability) and
      // the untouched buckets' entries carried by reference
      before.foreach { case (p, b) => assert(after.get(p).contains(b)) }
      val m2 = TxTable.readManifest(spark, dir, 2L)
      val m1 = TxTable.readManifest(spark, dir, 1L)
      val carried = m1.files.map(_.path).toSet.intersect(m2.files.map(_.path).toSet)
      assert(carried.nonEmpty, "untouched files must carry by reference")
      assert(rows(TxTable.read(spark, dir)) ===
        rows(snap(16).where(col("event_id") =!= 5)))
      // no-match DML is a no-op at the same version
      assert(TxTable.deleteWhere(spark, dir, col("event_id") === 999L, Some("pbucket")) === 2L)
      // conditional update
      val v3 = TxTable.updateWhere(spark, dir, col("event_id") === 6L,
        Seq("value" -> lit(600.0)), Some("pbucket"))
      assert(v3 === 3L)
      val got = TxTable.read(spark, dir).where(col("event_id") === 6L)
        .select("value").collect().map(_.getDouble(0)).toSeq
      assert(got === Seq(600.0))
      // others in the same rewritten file are verbatim
      assert(rows(TxTable.read(spark, dir)) ===
        rows(snap(16).where(col("event_id") =!= 5)
          .withColumn("value", when(col("event_id") === 6, 600.0).otherwise(col("value")))))
      // time travel still shows the deleted/pre-update rows
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) === rows(snap(16)))
    }
  }

  test("updateWhere evaluates predicate and all assignments against OLD values") {
    inDir { dir =>
      import spark.implicits._
      val base = Seq((1L, -5.0, 0L, false), (2L, 3.0, 0L, false))
        .toDF("event_id", "value", "pbucket", "audited")
      TxTable.commitReplace(spark, dir, base, Some("pbucket"))
      // first assignment flips value positive; the second must still
      // see the OLD (negative) value when deciding — SQL UPDATE
      // semantics, not sequential withColumn folding
      TxTable.updateWhere(spark, dir, col("value") < 0,
        Seq("value" -> (col("value") * -1), "audited" -> lit(true)),
        Some("pbucket"))
      val got = TxTable.read(spark, dir)
        .select("event_id", "value", "audited").orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getBoolean(2))).toSeq
      assert(got === Seq((1L, 5.0, true), (2L, 3.0, false)))
    }
  }

  test("changesBetween spans schema evolution; round trip with evolveSchema") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      import spark.implicits._
      val evolved = Seq((100L, "insert", 1.0, 0L, "feed"), (1L, "update", -1.0, 1L, "feed"))
        .toDF("event_id", "op", "value", "pbucket", "src")
      TxTable.mergeChangeSet(spark, dir, evolved, "event_id", "op", "pbucket",
        evolveSchema = true)
      val diff = TxTable.changesBetween(spark, dir, 1L, 2L, "event_id")
      // the evolved column is in the feed, with the after-image values
      assert(diff.columns.contains("src"))
      val bySrc = diff.select("event_id", "op", "src").collect()
        .map(r => r.getLong(0) -> (r.getString(1), Option(r.getString(2)))).toMap
      assert(bySrc(100L) === ("insert", Some("feed")))
      assert(bySrc(1L) === ("update", Some("feed")))
      // replaying the diff onto v1 (with evolution) equals v2, src included
      val replayed = Cdc.applyChangeSet(
        TxTable.read(spark, dir, versionAsOf = Some(1L)), diff,
        "event_id", "op", evolveSchema = true)
      def withSrc(df: DataFrame) = df
        .select(col("event_id"), col("value"), col("pbucket").cast("long"),
          coalesce(col("src"), lit("-")))
        .collect().map(r => (r.getLong(0), r.getDouble(1), r.getLong(2), r.getString(3))).toSet
      assert(withSrc(replayed) === withSrc(TxTable.read(spark, dir)))
    }
  }

  test("stats gathering skips all-NULL files instead of failing the commit") {
    inDir { dir =>
      import spark.implicits._
      // one range partition will hold only null-keyed rows
      val data = Seq[(java.lang.Long, Double)]((null, 1.0), (null, 2.0))
        .toDF("event_id", "value")
      TxTable.commitReplace(spark, dir, data.repartition(1),
        partitionCol = None, statsCols = Seq("event_id"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.forall(_.stats.isEmpty), "all-NULL file must carry no stats")
      // conservative read still returns the (non-matching) empty result
      assert(TxTable.readRange(spark, dir, "event_id", 0L, 10L).count() === 0L)
    }
  }

  test("non-path-literal partition values fail loud at the merge boundary") {
    inDir { dir =>
      import spark.implicits._
      val base = Seq((1L, 1.0, "a")).toDF("event_id", "value", "pbucket")
      TxTable.commitReplace(spark, dir, base, Some("pbucket"))
      val weird = Seq((2L, "insert", 2.0, "a b"))
        .toDF("event_id", "op", "value", "pbucket")
      val e = intercept[IllegalArgumentException] {
        TxTable.mergeChangeSet(spark, dir, weird, "event_id", "op", "pbucket")
      }
      assert(e.getMessage.contains("path-literal"))
    }
  }

  test("history reports op, added and carried files per version") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      TxTable.deleteWhere(spark, dir, col("event_id") === 4L, Some("pbucket"))
      val h = TxTable.history(spark, dir).orderBy("version").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getLong(4), r.getLong(5)))
      assert(h.map(x => (x._1, x._2)).toSeq ===
        Seq((1L, "replace"), (2L, "merge"), (3L, "delete")))
      // the merge and the delete both carried untouched files forward
      assert(h(1)._4 > 0 && h(2)._4 > 0, s"carried files expected: ${h.toSeq}")
      assert(h(0)._3 > 0 && h(1)._3 > 0, "every commit added files")
    }
  }

  /** LogStore wrapper counting every log read — the observable the
    * checkpoint-replay bound is specified against. */
  private final class CountingLogStore(inner: LogStore) extends LogStore {
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val listed = new java.util.concurrent.atomic.AtomicInteger(0)
    override def list(dir: org.apache.hadoop.fs.Path) = { listed.incrementAndGet(); inner.list(dir) }
    override def read(path: org.apache.hadoop.fs.Path) = { reads.incrementAndGet(); inner.read(path) }
    override def writeIfAbsent(path: org.apache.hadoop.fs.Path, content: String) =
      inner.writeIfAbsent(path, content)
    override def delete(path: org.apache.hadoop.fs.Path) = inner.delete(path)
  }

  test("checkpointed log: a many-commit table reads through ckpt + tail, never all V manifests") {
    inDir { dir =>
      val prevInterval = TxTable.checkpointInterval
      TxTable.checkpointInterval = 5
      try {
        TxTable.commitReplace(spark, dir, snap(64), Some("pbucket"))
        // 24 delta commits -> 25 versions, checkpoints at 1 (full), 5, 10, 15, 20, 25
        (1 to 24).foreach { i =>
          TxTable.deleteWhere(spark, dir, col("event_id") === i.toLong, Some("pbucket"))
        }
        assert(TxTable.latestVersion(spark, dir) === Some(25L))
        // the read plans from the nearest checkpoint: version 23 needs
        // ckpt 20 + deltas 21..23 = 4 log reads (out of 25+ log files)
        val counting = new CountingLogStore(new HadoopLogStore(
          new org.apache.hadoop.fs.Path(dir).getFileSystem(
            spark.sessionState.newHadoopConf())))
        val m23 = TxTable.withLogStore(_ => counting) {
          TxTable.readManifest(spark, dir, 23L)
        }
        assert(counting.reads.get() <= TxTable.checkpointInterval,
          s"expected ≤ ${TxTable.checkpointInterval} log reads, got ${counting.reads.get()}")
        assert(counting.listed.get() === 1, "one log listing per reconstruction")
        // and the reconstruction is CORRECT: v23 = base minus deletes 1..22
        val expect23 = rows(snap(64).where(!col("event_id").between(1, 22)))
        assert(rows(TxTable.read(spark, dir, versionAsOf = Some(23L))) === expect23)
        assert(m23.files.nonEmpty)
        // latest reads exactly like before
        assert(rows(TxTable.read(spark, dir)) ===
          rows(snap(64).where(!col("event_id").between(1, 24))))
        // history still reports every version off the delta-sized reads
        val h = TxTable.history(spark, dir).orderBy("version").collect()
        assert(h.length === 25)
        assert(h.head.getString(1) === "replace" && h.last.getString(1) === "delete")
      } finally TxTable.checkpointInterval = prevInterval
    }
  }

  test("vacuumRetain: wall-clock retention keeps the boundary version as horizon") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      Thread.sleep(150)
      TxTable.mergeChangeSet(spark, dir,
        Seq((100L, "insert", 1.0, 0L)).toDF("event_id", "op", "value", "pbucket"),
        "event_id", "op", "pbucket")
      Thread.sleep(150)
      TxTable.mergeChangeSet(spark, dir,
        Seq((101L, "insert", 2.0, 1L)).toDF("event_id", "op", "value", "pbucket"),
        "event_id", "op", "pbucket")
      val ts = TxTable.history(spark, dir).select("version", "commit_ts")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      // cutoff strictly inside (v2, v3): v2 is the newest at-or-before
      // the cutoff, so v2 is the horizon and only v1's manifest drops
      val targetCutoff = ts(3L) - 75
      require(targetCutoff > ts(2L), s"need distinct commit instants: $ts")
      TxTable.vacuumRetain(spark, dir,
        keepMs = System.currentTimeMillis() - targetCutoff)
      // latest still reads; the horizon (v2) still time-travels; v1 is
      // retired loud
      assert(rows(TxTable.read(spark, dir)).map(_._1).contains(101L))
      assert(rows(TxTable.readAsOfTimestamp(spark, dir, targetCutoff))
        .map(_._1).contains(100L))
      intercept[Exception](TxTable.read(spark, dir, versionAsOf = Some(1L)).collect())
      // a fully-inside-retention cutoff drops nothing
      val before = TxTable.history(spark, dir).count()
      TxTable.vacuumRetain(spark, dir, keepMs = 24L * 3600 * 1000)
      assert(TxTable.history(spark, dir).count() === before)
    }
  }

  test("vacuum(keepVersions) writes the horizon checkpoint before dropping the delta tail") {
    inDir { dir =>
      val prevInterval = TxTable.checkpointInterval
      TxTable.checkpointInterval = 100 // no cadence checkpoints beyond v1's full
      try {
        TxTable.commitReplace(spark, dir, snap(32), Some("pbucket"))
        (1 to 7).foreach { i =>
          TxTable.deleteWhere(spark, dir, col("event_id") === i.toLong, Some("pbucket"))
        }
        // keep the newest 3 versions (6, 7, 8); horizon = 6 has no
        // checkpoint yet — vacuum must create it or v6..8 become
        // unreconstructible once manifests 1..5 are gone
        TxTable.vacuum(spark, dir, keepVersions = Some(3), retentionMs = 0L)
        val logFiles = new java.io.File(s"$dir/_graft_log").listFiles().map(_.getName).toSet
        assert(logFiles.exists(_.startsWith("_ckpt-00000000000000000006")),
          s"horizon checkpoint missing: $logFiles")
        assert(!logFiles.contains(f"${1L}%020d.json"), "dropped manifests must be gone")
        // retained versions read exactly
        assert(rows(TxTable.read(spark, dir, versionAsOf = Some(6L))) ===
          rows(snap(32).where(!col("event_id").between(1, 5))))
        assert(rows(TxTable.read(spark, dir)) ===
          rows(snap(32).where(!col("event_id").between(1, 7))))
        // a vacuumed version fails loud, not wrong
        val e = intercept[IllegalArgumentException] {
          TxTable.read(spark, dir, versionAsOf = Some(3L)).collect()
        }
        assert(e.getMessage.contains("missing"))
        // history on the truncated log still reports the retained tail
        val h = TxTable.history(spark, dir).orderBy("version").collect()
          .map(r => (r.getLong(0), r.getLong(3)))
        assert(h.map(_._1).toSeq === Seq(6L, 7L, 8L))
        assert(h.forall(_._2 > 0), s"n_files must come from the horizon ckpt: ${h.toSeq}")
      } finally TxTable.checkpointInterval = prevInterval
    }
  }

  test("vacuum horizon checkpoint carries the txn ledger and table properties") {
    inDir { dir =>
      import spark.implicits._
      val prevInterval = TxTable.checkpointInterval
      TxTable.checkpointInterval = 100 // horizon ckpt must come from vacuum itself
      try {
        TxTable.commitReplace(spark, dir, snap(16), Some("pbucket")) // v1
        TxTable.setTableProperty(spark, dir, "owner", "graft") // v2
        TxTable.addCheckConstraint(spark, dir, "nonneg", "value >= 0") // v3
        val cleanChanges = Seq((100L, "insert", 1000.0, 0L))
          .toDF("event_id", "op", "value", "pbucket")
        TxTable.mergeChangeSet(spark, dir, cleanChanges, "event_id", "op",
          "pbucket", txn = Some(("writer-a", 5L))) // v4
        (1 to 3).foreach(i => TxTable.deleteWhere(
          spark, dir, col("event_id") === (i + 9).toLong, Some("pbucket"))) // v5..v7
        // retain v5..v7: horizon v5's checkpoint is written by vacuum
        // and must carry the ledger + props accumulated at v2..v4
        TxTable.vacuum(spark, dir, keepVersions = Some(3), retentionMs = 0L)
        val props = TxTable.tableProperties(spark, dir)
        assert(props.get("owner").contains("graft"),
          s"table property lost through vacuum checkpoint: $props")
        assert(props.get("constraint.nonneg").contains("value >= 0"),
          s"CHECK constraint lost through vacuum checkpoint: $props")
        // constraint still ENFORCED post-vacuum
        val bad = Seq((999L, "insert", -5.0, 0L))
          .toDF("event_id", "op", "value", "pbucket")
        intercept[TxTable.ConstraintViolationException] {
          TxTable.mergeChangeSet(spark, dir, bad, "event_id", "op", "pbucket")
        }
        // idempotent-writer ledger still DEDUPES a replayed batch
        val before = rows(TxTable.read(spark, dir))
        TxTable.mergeChangeSet(spark, dir, cleanChanges, "event_id", "op",
          "pbucket", txn = Some(("writer-a", 5L)))
        assert(rows(TxTable.read(spark, dir)) === before,
          "replayed txn must stay a no-op after vacuum truncated the log")
      } finally TxTable.checkpointInterval = prevInterval
    }
  }

  test("legacy (pre-kind) manifests parse as full snapshots and stay readable") {
    // codec level: the r10 line shapes — kind-less header, bare
    // entries, single sc/lo/hi stats — must parse losslessly
    val legacy =
      """{"version":3,"base":2,"op":"replace","n_files":2}
        |{"path":"data/v3-x/a.parquet","bucket":"p=0","sc":"event_id","lo":5,"hi":9}
        |{"path":"data/v3-x/b.parquet"}
        |""".stripMargin
    val p = TxTable.ManifestJson.parse(legacy, "legacy-test")
    assert(p.kind === "full" && p.version === 3L && p.base === 2L)
    assert(p.adds.map(_.path) === Seq("data/v3-x/a.parquet", "data/v3-x/b.parquet"))
    assert(p.adds.head.bucket.contains("p=0"))
    assert(p.adds.head.stats === Map("event_id" -> (5L, 9L)))
    assert(p.adds.head.bloom.isEmpty && p.adds.head.bytes === 0L &&
      p.adds.head.rows === -1L)
    assert(p.removes.isEmpty)
    // end to end: a table whose v1 manifest is rewritten in the legacy
    // format reads AND merges (the upgrade path an existing r10 table
    // takes on first contact with the new engine)
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      val m = TxTable.readManifest(spark, dir, 1L)
      val sb = new StringBuilder
      sb.append(s"""{"version":1,"base":0,"op":"replace","n_files":${m.files.size}}""")
        .append('\n')
      m.files.foreach { f =>
        sb.append(s"""{"path":"${f.path}"""")
        f.bucket.foreach(b => sb.append(s""","bucket":"$b""""))
        sb.append("}\n")
      }
      val mp = java.nio.file.Paths.get(dir, "_graft_log", f"${1L}%020d.json")
      java.nio.file.Files.write(mp, sb.toString.getBytes("UTF-8"))
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)))
      // merge on top of the legacy manifest
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      assert(rows(TxTable.read(spark, dir)).exists(_._1 === 100L))
    }
  }

  test("a kind-less header with MODERN a/r delta lines fails loudly " +
      "(no silent delta-as-full replay)") {
    // the hazard: dropping the "kind" key from a delta manifest used
    // to flip it to kind=full, resetting replay state and silently
    // dropping every carried-forward file — legacy acceptance must
    // key on the BODY shape, not just the header
    val corrupt =
      """{"version":3,"base":2,"op":"merge","n_add":1,"n_remove":1}
        |{"a":{"path":"data/v3-x/a.parquet"}}
        |{"r":"data/v2-y/b.parquet"}
        |""".stripMargin
    val e = intercept[RuntimeException] {
      TxTable.ManifestJson.parse(corrupt, "kindless-delta-test")
    }
    assert(e.getMessage.contains("kind-less"), e.getMessage)
  }

  test("gatherBlooms rejects a bloomBits that is not a positive multiple of 64") {
    inDir { dir =>
      val e = intercept[IllegalArgumentException] {
        TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"),
          statsCols = Seq("event_id"), bloomCol = Some("event_id"),
          bloomBits = 100) // not a multiple of 64 — would AIOOBE mid-commit
      }
      assert(e.getMessage.contains("multiple of 64"))
    }
  }

  test("a racing LogStore losing every publish still detects the conflict (seam holds)") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      // a store whose publishes always LOSE (a competing writer beat
      // every attempt) — conflict detection must come through the seam
      val losing = new LogStore {
        val inner = new HadoopLogStore(new org.apache.hadoop.fs.Path(dir)
          .getFileSystem(spark.sessionState.newHadoopConf()))
        override def list(d: org.apache.hadoop.fs.Path) = inner.list(d)
        override def read(p: org.apache.hadoop.fs.Path) = inner.read(p)
        override def writeIfAbsent(p: org.apache.hadoop.fs.Path, c: String) = false
        override def delete(p: org.apache.hadoop.fs.Path) = inner.delete(p)
      }
      val before = rows(TxTable.read(spark, dir))
      intercept[TxTable.CommitConflictException] {
        TxTable.withLogStore(_ => losing) {
          TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
        }
      }
      // nothing published; the table is exactly the pre-race version
      assert(TxTable.latestVersion(spark, dir) === Some(1L))
      assert(rows(TxTable.read(spark, dir)) === before)
    }
  }

  test("protocol gate: a future-protocol manifest is refused loud; " +
      "current and pre-gate headers read") {
    val current = TxTable.ManifestJson.render(
      3L, 2L, "merge", "delta", Seq(TxTable.FileEntry("data/v3-x/a.parquet", None)),
      Seq.empty)
    // the engine writes — and reads back — its own protocol
    assert(current.linesIterator.next().contains("\"protocol\":1"))
    assert(TxTable.ManifestJson.parse(current, "self").version === 3L)
    // a header written by a NEWER engine must be refused with both
    // numbers named, never half-replayed
    val future = current.replaceFirst("\"protocol\":1", "\"protocol\":2")
    val e = intercept[IllegalArgumentException](
      TxTable.ManifestJson.parse(future, "future-table"))
    assert(e.getMessage.contains("protocol 2") &&
      e.getMessage.contains("up to 1"), e.getMessage)
    // pre-gate headers (no protocol field) read as protocol 1
    val preGate = current.replaceFirst("\"protocol\":1,", "")
    assert(TxTable.ManifestJson.parse(preGate, "old").version === 3L)
  }

  test("manifest serializer round-trips exotic paths/buckets (quotes, spaces, backslash)") {
    val entries = Seq(
      TxTable.FileEntry("""data/v1-x/weird "name" with spaces.parquet""", Some("""a\b"c"""),
        Map("event_id" -> (-5L, 42L), "user_id" -> (0L, 7L))),
      TxTable.FileEntry("data/v1-x/plain.parquet", None))
    val text = TxTable.ManifestJson.render(3L, 2L, "merge", "delta",
      entries, Seq("""old "quoted" path.parquet"""))
    val parsed = TxTable.ManifestJson.parse(text, "round-trip")
    assert(parsed.version === 3L && parsed.base === 2L)
    assert(parsed.op === "merge" && parsed.kind === "delta")
    assert(parsed.adds === entries)
    assert(parsed.removes === Seq("""old "quoted" path.parquet"""))
  }

  test("manifest codec round-trips 200 randomized entries (fixed seed)") {
    val rnd = new scala.util.Random(20260814L)
    val chars = "ab c\"d\\e/f=g.h-{}[]:,\n\tø€"
    def str(n: Int): String =
      Seq.fill(1 + rnd.nextInt(n))(chars(rnd.nextInt(chars.length))).mkString
    val entries = Seq.fill(200) {
      TxTable.FileEntry(
        path = s"data/v${rnd.nextInt(99)}-x/${str(24)}.parquet",
        bucket = if (rnd.nextBoolean()) Some(str(8)) else None,
        stats = Seq.fill(rnd.nextInt(3))(
          str(6) -> (rnd.nextLong(), rnd.nextLong())).toMap,
        bloom = if (rnd.nextBoolean()) Some(TxTable.FileBloom(str(6), 4,
          java.util.Base64.getEncoder.encodeToString(
            Array.fill(16)(rnd.nextInt().toByte)))) else None,
        bytes = 1L + (rnd.nextLong() >>> 1))
    }
    val removes = Seq.fill(50)(str(30))
    val schemas = Seq.fill(5)(s"data/v${rnd.nextInt(99)}-x" -> str(60)).toMap
    val text = TxTable.ManifestJson.render(
      7L, 6L, str(5), "delta", entries, removes, Some(str(40)), schemas)
    val parsed = TxTable.ManifestJson.parse(text, "fuzz")
    assert(parsed.version === 7L && parsed.base === 6L && parsed.kind === "delta")
    assert(parsed.adds === entries)
    assert(parsed.removes === removes)
    assert(parsed.schemas === schemas)
  }

  test("multi-column stats: a 2-D box prunes on BOTH dimensions via the manifest") {
    inDir { dir =>
      import spark.implicits._
      // two correlated-but-distinct dims; Z-order the layout so
      // per-file min/max is tight on both
      val data = (0L until 4096L).map(i => (i % 64, (i / 64) % 64, i * 1.0))
        .toDF("x", "y", "value")
      TxTable.commitReplace(spark, dir,
        graft.ext.Layout.zOrderBy(data, col("x"), col("y"), 16),
        partitionCol = None, statsCols = Seq("x", "y"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.forall(f => f.stats.contains("x") && f.stats.contains("y")))
      // rows exact vs the plain predicate
      val box = TxTable.readRanges(spark, dir, Seq(("x", 8L, 15L), ("y", 8L, 15L)))
      val expect = data.where(col("x").between(8, 15) && col("y").between(8, 15))
      assert(box.count() === expect.count())
      assert(box.agg(sum("value")).head.getDouble(0) ===
        expect.agg(sum("value")).head.getDouble(0))
      // the second dimension must prune FURTHER than the first alone —
      // that is the whole point of multi-column stats over a Z layout
      val oneD = TxTable.readRanges(spark, dir, Seq(("x", 8L, 15L)))
      assert(box.inputFiles.length < oneD.inputFiles.length,
        s"2-D box ${box.inputFiles.length} files vs 1-D ${oneD.inputFiles.length}")
      assert(oneD.inputFiles.length < m.files.size)
    }
  }

  test("bloom point lookup skips files on an unclustered key; conservative without a bloom") {
    inDir { dir =>
      import spark.implicits._
      // shuffled layout: every file's event_id range spans the domain,
      // so range stats could never prune — the bloom is the only index
      val data = (0L until 2048L).map(i => (i, i * 1.0)).toDF("event_id", "value")
      TxTable.commitReplace(spark, dir, data.repartition(16),
        partitionCol = None, bloomCol = Some("event_id"), bloomBits = 1 << 14)
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.size === 16)
      assert(m.files.forall(_.bloom.exists(_.col === "event_id")))
      // exact rows for a 3-needle probe...
      val probe = TxTable.readPoint(spark, dir, "event_id", Seq("5", "777", "2000"))
      assert(probe.collect().map(_.getLong(0)).sorted.toSeq === Seq(5L, 777L, 2000L))
      // ...reading a STRICT subset of the files (each needle lives in
      // exactly one file; blooms at these sizes keep FP ≪ file count)
      assert(probe.inputFiles.length < m.files.size,
        s"expected bloom skipping: ${probe.inputFiles.length} of ${m.files.size}")
      // an absent needle returns empty without error
      assert(TxTable.readPoint(spark, dir, "event_id", Seq("999999")).count() === 0L)
      // a column with no bloom reads everything, still exact
      val noBloom = TxTable.readPoint(spark, dir, "value", Seq("5.0"))
      assert(noBloom.inputFiles.length === m.files.size)
      assert(noBloom.collect().map(_.getLong(0)).toSeq === Seq(5L))
      // blooms round-trip the manifest codec (base64 + Jackson)
      val bl = m.files.head.bloom.get
      assert(bl.bits.length === (1 << 14) / 64)
    }
  }

  test("stats and blooms survive DML and merges; detail reads sizes off the manifest") {
    inDir { dir =>
      import spark.implicits._
      val data = (0L until 800L).map(i => (i, i * 1.0, i % 4)).toDF("event_id", "value", "pbucket")
      TxTable.commitReplace(spark, dir,
        data.repartitionByRange(8, col("event_id")).sortWithinPartitions("event_id"),
        partitionCol = None, statsCols = Seq("event_id"), bloomCol = Some("event_id"),
        bloomBits = 1 << 14)
      // DML rewrites files — the fresh files must RE-DERIVE stats and
      // bloom, not decay to conservative must-read
      TxTable.deleteWhere(spark, dir, col("event_id") === 150L)
      val m2 = TxTable.readManifest(spark, dir, 2L)
      assert(m2.files.forall(_.stats.contains("event_id")),
        "rewritten files must carry re-derived range stats")
      assert(m2.files.forall(_.bloom.exists(_.col == "event_id")),
        "rewritten files must carry re-derived blooms")
      val ranged = TxTable.readRange(spark, dir, "event_id", 100L, 199L)
      assert(ranged.inputFiles.length < m2.files.size, "skipping must still bite after DML")
      assert(ranged.count() === 99L) // 100..199 minus the deleted 150
      val point = TxTable.readPoint(spark, dir, "event_id", Seq("700"))
      assert(point.inputFiles.length < m2.files.size)
      assert(point.collect().map(_.getLong(0)).toSeq === Seq(700L))
      // detail: one manifest-only row, sizes recorded
      val d = TxTable.detail(spark, dir).collect().head
      assert(d.getAs[Long]("version") === 2L &&
        d.getAs[Long]("n_files") === m2.files.size.toLong)
      assert(d.getAs[Long]("total_bytes") > 0L,
        "total_bytes must come from the manifest")
      assert(d.getAs[String]("stats_cols") === "event_id" &&
        d.getAs[String]("bloom_cols") === "event_id")
    }
  }

  test("idempotent-writer ledger: a replayed txn is a no-op; ledger survives a full replace") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val app = "writer-a"
      val v2 = TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op",
        "pbucket", txn = Some((app, 1L)))
      assert(v2 === 2L)
      val afterOnce = rows(TxTable.read(spark, dir))
      // the exact double-apply hazard: replaying txn 1 must NOT insert
      // key 100 a second time
      val replay = TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op",
        "pbucket", txn = Some((app, 1L)))
      assert(replay === 2L, "replayed txn must be a no-op at the current version")
      assert(rows(TxTable.read(spark, dir)) === afterOnce)
      // a HIGHER txn version applies normally
      val next = Seq((200L, "insert", 7.0, 0L)).toDF("event_id", "op", "value", "pbucket")
      assert(TxTable.mergeChangeSet(spark, dir, next, "event_id", "op",
        "pbucket", txn = Some((app, 2L))) === 3L)
      // an UNRELATED writer is not gated by this app's ledger
      val other = Seq((300L, "insert", 3.0, 1L)).toDF("event_id", "op", "value", "pbucket")
      assert(TxTable.mergeChangeSet(spark, dir, other, "event_id", "op",
        "pbucket", txn = Some(("writer-b", 1L))) === 4L)
      // the ledger SURVIVES a full replace (a compaction/replace around
      // a streaming writer must not make its replayed batch re-apply)
      TxTable.commitReplace(spark, dir, snap(6), Some("pbucket")) // v5, full
      val afterReplace = rows(TxTable.read(spark, dir))
      assert(TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op",
        "pbucket", txn = Some((app, 2L))) === 5L, "txn 2 is already recorded")
      assert(rows(TxTable.read(spark, dir)) === afterReplace)
      assert(TxTable.readManifest(spark, dir, 5L).txns ===
        Map(app -> 2L, "writer-b" -> 1L))
      // commitReplace is gated too — the materialized-view refresh
      // recipe replays through here
      val v6 = TxTable.commitReplace(spark, dir, snap(4), Some("pbucket"),
        txn = Some(("view-refresh", 9L)))
      assert(v6 === 6L)
      val afterRefresh = rows(TxTable.read(spark, dir))
      assert(TxTable.commitReplace(spark, dir, snap(24), Some("pbucket"),
        txn = Some(("view-refresh", 9L))) === 6L, "replayed refresh must be a no-op")
      assert(rows(TxTable.read(spark, dir)) === afterRefresh)
    }
  }

  test("timestamp time travel: versionAtTimestamp brackets commits; before-table is None") {
    inDir { dir =>
      val t0 = System.currentTimeMillis() - 1
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      Thread.sleep(15) // commit timestamps are millisecond-grained
      val t1 = System.currentTimeMillis()
      Thread.sleep(15)
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      Thread.sleep(15)
      val t2 = System.currentTimeMillis()
      Thread.sleep(15)
      TxTable.deleteWhere(spark, dir, col("event_id") === 4L, Some("pbucket"))
      assert(TxTable.versionAtTimestamp(spark, dir, t0) === None)
      assert(TxTable.versionAtTimestamp(spark, dir, t1) === Some(1L))
      assert(TxTable.versionAtTimestamp(spark, dir, t2) === Some(2L))
      assert(TxTable.versionAtTimestamp(spark, dir,
        System.currentTimeMillis() + 1000) === Some(3L))
      assert(rows(TxTable.readAsOfTimestamp(spark, dir, t1)) === rows(snap(8)))
      // history surfaces the commit timestamps, nondecreasing
      val ts = TxTable.history(spark, dir).orderBy("version")
        .select("commit_ts").collect().map(_.getLong(0)).toSeq
      assert(ts.size === 3 && ts.forall(_ > 0) && ts === ts.sorted)
      intercept[RuntimeException] {
        TxTable.readAsOfTimestamp(spark, dir, t0)
      }
    }
  }

  test("restore rolls back by reference: zero data copied, bad versions still travel") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      TxTable.mergeChangeSet(spark, dir, changes(), "event_id", "op", "pbucket")
      val merged = rows(TxTable.read(spark, dir))
      val bytesBefore = dataBytes(dir)
      val v3 = TxTable.restore(spark, dir, 1L)
      assert(v3 === 3L)
      // NOT ONE data file was written or touched — pure re-reference
      assert(dataBytes(dir) === bytesBefore)
      assert(rows(TxTable.read(spark, dir)) === rows(snap(12)))
      // the rolled-back-over version stays travelable for the postmortem
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(2L))) === merged)
      val h = TxTable.history(spark, dir).orderBy("version").collect()
      assert(h(2).getString(1) === "restore")
      // restore-to-current is a no-op at the same version
      assert(TxTable.restore(spark, dir, 3L) === 3L)
      // restore ACROSS a full reset: the replace wipes replay state,
      // so the restored dirs' schemas must ride the restore manifest's
      // own dir→schema map
      import spark.implicits._
      val other = Seq((900L, 9.0, 0L)).toDF("event_id", "value", "pbucket")
      TxTable.commitReplace(spark, dir, other, Some("pbucket")) // v4, full
      val v5 = TxTable.restore(spark, dir, 2L)
      assert(v5 === 5L)
      assert(rows(TxTable.read(spark, dir)) === merged)
      // vacuum reclaims nothing that any retained version references
      TxTable.vacuum(spark, dir, retentionMs = 0L)
      assert(rows(TxTable.read(spark, dir)) === merged)
    }
  }

  test("churn: racing retry-writers + reader + vacuum stay consistent under checkpoint cadence") {
    inDir { dir =>
      val prevInterval = TxTable.checkpointInterval
      TxTable.checkpointInterval = 3
      try {
        import spark.implicits._
        TxTable.commitReplace(spark, dir, snap(24), Some("pbucket"))
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val start = new java.util.concurrent.CountDownLatch(1)
        // three writers, three sequential single-insert merges each,
        // disjoint keys — every interleaving must serialize through OCC
        val writers = (1 to 3).map { t =>
          new Thread(() => {
            start.await()
            try (1 to 3).foreach { i =>
              TxTable.withConflictRetry(maxRetries = 50) {
                TxTable.mergeChangeSet(spark, dir,
                  Seq((1000L * t + i, "insert", t * 1.0, ((t + i) % 4).toLong))
                    .toDF("event_id", "op", "value", "pbucket"),
                  "event_id", "op", "pbucket")
              }
            } catch { case e: Throwable => errs.add(e) }
          })
        }
        // a reader racing the whole churn: every read must land on a
        // COMMITTED version — a count outside [24, 33] would mean a
        // torn snapshot
        val readerStop = new java.util.concurrent.atomic.AtomicBoolean(false)
        val reader = new Thread(() => {
          start.await()
          try while (!readerStop.get()) {
            val n = TxTable.read(spark, dir).count()
            if (n < 24 || n > 33)
              errs.add(new AssertionError(s"torn snapshot: $n rows"))
          } catch { case e: Throwable => errs.add(e) }
        })
        writers.foreach(_.start()); reader.start(); start.countDown()
        writers.foreach(_.join(180000))
        readerStop.set(true); reader.join(60000)
        assert(errs.isEmpty, s"churn must be clean: ${errs.peek()}")
        assert(TxTable.latestVersion(spark, dir) === Some(10L))
        val expected = rows(snap(24)) ++
          (for (t <- 1 to 3; i <- 1 to 3)
            yield (1000L * t + i, t * 1.0, ((t + i) % 4).toLong)).toSet
        assert(rows(TxTable.read(spark, dir)) === expected)
        assert(TxTable.history(spark, dir).count() === 10L)
        // vacuum to a horizon mid-chain; the retained tail stays exact
        TxTable.vacuum(spark, dir, keepVersions = Some(4), retentionMs = 0L)
        assert(rows(TxTable.read(spark, dir)) === expected)
        assert(rows(TxTable.read(spark, dir, versionAsOf = Some(7L))).size === 24 + 6)
      } finally TxTable.checkpointInterval = prevInterval
    }
  }

  test("readPruned plans only the selected buckets' files from the manifest") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(16), Some("pbucket"))
      val pruned = TxTable.readPruned(spark, dir, Set("1"))
      assert(rows(pruned) === rows(snap(16).where(col("pbucket") === 1)))
      // the scan's input files are exactly bucket 1's manifest entries
      val files = pruned.inputFiles.toSet
      assert(files.nonEmpty && files.forall(_.contains("pbucket=1")))
    }
  }

  // ---- merge-on-read deletion vectors -------------------------------

  test("deleteWhereDv on a PARTITIONED table: byte-identity, stacked DVs, " +
      "metaCount, time travel") {
    inDir { dir =>
      // partitioned write: every pbucket dir reuses the same
      // part-00000-<jobUUID> NAME — exactly the layout that breaks a
      // name-keyed coordinate system (coordinates must be the
      // root-RELATIVE path)
      TxTable.commitReplace(spark, dir, snap(40), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      assert(beforeBytes.size >= 4, "expect one file per pbucket at least")
      // unclustered predicate — matches rows in EVERY partition
      val v2 = TxTable.deleteWhereDv(spark, dir, col("event_id") % 5 === 0)
      assert(v2 === 2L)
      // merge-on-read contract: not one data file's BYTES changed
      assert(dataBytes(dir) === beforeBytes,
        "a DV delete must never rewrite data files")
      val expect1 = snap(40).where(!(col("event_id") % 5 === 0))
      assert(rows(TxTable.read(spark, dir)) === rows(expect1))
      // STACKED second DV: matches only still-visible rows
      val v3 = TxTable.deleteWhereDv(spark, dir, col("event_id") % 2 === 1)
      assert(v3 === 3L)
      assert(dataBytes(dir) === beforeBytes)
      val expect2 = expect1.where(!(col("event_id") % 2 === 1))
      assert(rows(TxTable.read(spark, dir)) === rows(expect2))
      // metadata-only COUNT subtracts tombstones exactly off the log
      assert(TxTable.metaCount(spark, dir) === expect2.count())
      // prior versions time-travel with the rows PRESENT
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) ===
        rows(snap(40)))
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(2L))) ===
        rows(expect1))
      // a no-match delete publishes nothing
      assert(TxTable.deleteWhereDv(spark, dir, col("event_id") > 10000) === 3L)
    }
  }

  private def planOf(df: DataFrame): String =
    df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode)

  /** Run with Spark's own size-based auto-broadcast OFF, so the only
    * thing that can produce a BroadcastHashJoin is [[TxTable.joinOnKey]]'s
    * manifest-elected hint — at toy spec scale every table sits under
    * the 10 MB default and Spark would broadcast regardless, masking
    * the election under test. */
  private def withAutoBroadcastOff[T](body: => T): T = {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try body finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("joinOnKey: manifest-NDV broadcast election — plan flips on the sketch, " +
      "rows never change") {
    withAutoBroadcastOff { inDir { dir =>
      import spark.implicits._
      // dim: 16 distinct keys across 64 rows, sketched at commit
      val dim = (0 until 64).map(i => ((i % 16).toLong, i.toLong))
        .toDF("uid", "payload")
      TxTable.commitReplace(spark, dir, dim, statsCols = Seq("uid"))
      val fact = (0 until 200).map(i => (i.toLong % 40, i * 2.0)).toDF("k", "v")
      val expect = fact.where(col("k") < 16).collect().map(_.getLong(0)).sorted
      // small sketch ⇒ broadcast IN-set plan
      val bj = TxTable.joinOnKey(spark, dir, fact, "k", "uid")
      assert(planOf(bj).contains("BroadcastHashJoin"), planOf(bj))
      assert(bj.collect().map(_.getLong(0)).sorted === expect)
      assert(bj.columns.toSeq === Seq("k", "v"), "semi join keeps left columns only")
      // same query under a tiny key budget ⇒ shuffled semi join, same rows
      val sj = TxTable.joinOnKey(spark, dir, fact, "k", "uid", maxBroadcastKeys = 4)
      assert(!planOf(sj).contains("BroadcastHashJoin"), planOf(sj))
      assert(sj.collect().map(_.getLong(0)).sorted === expect)
      // leftanti: the complement, same election machinery
      val aj = TxTable.joinOnKey(spark, dir, fact, "k", "uid", joinType = "leftanti")
      assert(planOf(aj).contains("BroadcastHashJoin"), planOf(aj))
      assert(aj.collect().map(_.getLong(0)).min === 16L)
    }
  } }

  test("joinOnKey: no sketch for the key ⇒ conservative shuffle, never an " +
      "unsized broadcast") {
    withAutoBroadcastOff { inDir { dir =>
      import spark.implicits._
      // committed WITHOUT statsCols: no HLL registers in the manifest
      val dim = (0 until 8).map(i => (i.toLong, i.toLong)).toDF("uid", "payload")
      TxTable.commitReplace(spark, dir, dim)
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(!TxTable.electBroadcastKeys(m, "uid", Long.MaxValue))
      val fact = (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      val j = TxTable.joinOnKey(spark, dir, fact, "k", "uid")
      assert(!planOf(j).contains("BroadcastHashJoin"), planOf(j))
      assert(j.count() === 8)
    }
  } }

  test("joinOnKey: stale-but-conservative under DVs — the sketch keeps " +
      "over-counting, the rows read the tombstone-filtered truth") {
    withAutoBroadcastOff { inDir { dir =>
      import spark.implicits._
      val dim = (0 until 64).map(i => ((i % 16).toLong, i.toLong))
        .toDF("uid", "payload")
      TxTable.commitReplace(spark, dir, dim, statsCols = Seq("uid"))
      val estBefore = TxTable.metaNdv(spark, dir, "uid").get
      // tombstone all but uid ∈ {0,1}: the TRUE key set shrinks to 2…
      TxTable.deleteWhereDv(spark, dir, col("uid") >= 2L)
      // …but registers never decrement: the estimate is unchanged —
      // an over-count, which can only steer toward shuffle, never an
      // under-sized broadcast
      assert(TxTable.metaNdv(spark, dir, "uid").get === estBefore)
      val fact = (0 until 20).map(i => (i.toLong, i * 1.0)).toDF("k", "v")
      val j = TxTable.joinOnKey(spark, dir, fact, "k", "uid")
      assert(planOf(j).contains("BroadcastHashJoin"), planOf(j))
      assert(j.collect().map(_.getLong(0)).toSet === Set(0L, 1L),
        "tombstoned keys must not survive into the IN-set")
    }
  } }

  test("joinOnKey: full-row join elects broadcast on recorded manifest bytes") {
    withAutoBroadcastOff { inDir { dir =>
      import spark.implicits._
      val dim = (0 until 16).map(i => (i.toLong, s"name_$i")).toDF("uid", "label")
      TxTable.commitReplace(spark, dir, dim, statsCols = Seq("uid"))
      val fact = (0 until 40).map(i => (i.toLong % 20, i * 1.0)).toDF("k", "v")
      val j = TxTable.joinOnKey(spark, dir, fact, "k", "uid", joinType = "inner")
      assert(planOf(j).contains("BroadcastHashJoin"), planOf(j))
      assert(j.columns.toSet === Set("k", "v", "uid", "label"),
        "inner join exposes the table's columns under their own names")
      assert(j.count() === 32) // k ∈ 0..15 matches, two fact rows each
      // a 1-byte budget cannot broadcast: the same join shuffles
      val sj = TxTable.joinOnKey(spark, dir, fact, "k", "uid",
        joinType = "inner", maxBroadcastBytes = 1L)
      assert(!planOf(sj).contains("BroadcastHashJoin"), planOf(sj))
      assert(sj.count() === 32)
    }
  } }

  test("electBroadcastRows: rows × log-carried schema structure beats the " +
      "old bytes-only guess — wide compressed rows refused, budgets that " +
      "truly fit elect, every unrecorded input stays conservative") {
    import org.apache.spark.sql.types._
    // 200 fixed-width columns × 50k rows: delta/RLE parquet compresses
    // this to ~100 KB on disk, but the hash relation costs ~83 MB of
    // UnsafeRow structure (50k × (8×200 slots + 32 null-bitset + 32
    // map overhead)). The pre-r17 bytes-only election (100 KB × 4 ≤
    // 32 MB) would have broadcast it — the wide-row mis-elect.
    val wide = StructType((0 until 200).map(i => StructField(s"c$i", LongType)))
    val m = TxTable.Manifest(1L,
      Seq(TxTable.FileEntry("data/v1-aa/f.parquet", None,
        bytes = 100L << 10, rows = 50000L)),
      schemas = Map("data/v1-aa" -> wide.json))
    assert(!TxTable.electBroadcastRows(m, 32L << 20),
      "structural row cost must refuse what compressed bytes would admit")
    assert(TxTable.electBroadcastRows(m, 128L << 20),
      "the same table elects under a budget it actually fits")
    // conservatism: every missing log input elects the shuffle plan
    assert(!TxTable.electBroadcastRows(
      m.copy(schemas = Map.empty), Long.MaxValue), "no schema ⇒ refuse")
    assert(!TxTable.electBroadcastRows(
      m.copy(files = m.files.map(_.copy(rows = -1L))), Long.MaxValue),
      "no row counts ⇒ refuse")
    assert(!TxTable.electBroadcastRows(
      m.copy(files = m.files.map(_.copy(bytes = 0L))), Long.MaxValue),
      "no byte counts ⇒ refuse")
    // var-width columns: the 4× decode headroom applies to the
    // compressed payload ON TOP of the exact structural cost
    val varSchema = StructType(Seq(
      StructField("id", LongType), StructField("blob", StringType)))
    val mv = TxTable.Manifest(1L,
      Seq(TxTable.FileEntry("data/v1-bb/f.parquet", None,
        bytes = 8L << 20, rows = 1000L)),
      schemas = Map("data/v1-bb" -> varSchema.json))
    assert(!TxTable.electBroadcastRows(mv, 32L << 20),
      "8 MB of compressed strings × 4 + structure exceeds 32 MB")
    assert(TxTable.electBroadcastRows(mv, 40L << 20))
  }

  test("aggOnKey: manifest-NDV partial-aggregation election — near-unique " +
      "key skips the map-side partial, low-NDV keeps it, missing sketch " +
      "stays conservative; rows identical either way") {
    import spark.implicits._
    // printed tree is root-first: final HashAggregate, then either the
    // Exchange (default plan: partial below the wire) or the partial
    // HashAggregate (skip plan: raw rows exchanged first)
    def shape(df: DataFrame): (Int, Int, Int) = {
      val p = planOf(df)
      val h1 = p.indexOf("HashAggregate")
      val h2 = p.indexOf("HashAggregate", h1 + 1)
      val ex = p.indexOf("Exchange")
      assert(h1 >= 0 && h2 > h1 && ex >= 0, p)
      (h1, h2, ex)
    }
    val aggs = Seq(count(lit(1)).as("n"))
    inDir { dir =>
      // every key distinct: sketch estimate ≈ rows ⇒ skip the partial
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => (i.toLong, i * 2.0)).toDF("id", "v"),
        statsCols = Seq("id"))
      val a = TxTable.aggOnKey(spark, dir, "id", aggs)
      val (_, h2, ex) = shape(a)
      assert(ex > h2, s"near-unique key must shuffle raw rows first:\n${planOf(a)}")
      assert(a.count() === 512 && a.select(max("n")).head.getLong(0) === 1L)
    }
    inDir { dir =>
      // 8 distinct keys over 512 rows ⇒ the partial combine earns its keep
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => ((i % 8).toLong, i * 2.0)).toDF("id", "v"),
        statsCols = Seq("id"))
      val a = TxTable.aggOnKey(spark, dir, "id", aggs)
      val (h1, h2, ex) = shape(a)
      assert(ex > h1 && ex < h2, s"low-NDV key keeps the default plan:\n${planOf(a)}")
      assert(a.count() === 8 && a.select(min("n")).head.getLong(0) === 64L)
    }
    inDir { dir =>
      // same near-unique data committed WITHOUT sketches: the election
      // must not guess — default plan, never a surprise raw-row shuffle
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => (i.toLong, i * 2.0)).toDF("id", "v"))
      assert(!TxTable.electSkipPartial(
        TxTable.readManifest(spark, dir, 1L), "id", 0.8))
      val a = TxTable.aggOnKey(spark, dir, "id", aggs)
      val (h1, h2, ex) = shape(a)
      assert(ex > h1 && ex < h2, s"no sketch ⇒ conservative default:\n${planOf(a)}")
      assert(a.count() === 512)
    }
  }

  test("aggOnKey: manifest-NDV post-shuffle WIDTH election — a key whose " +
      "sketch says fewer groups than the shuffle width folds the empty " +
      "reduce tasks away; missing sketch or NDV ≥ width keep the default") {
    import spark.implicits._
    val aggs = Seq(count(lit(1)).as("n"))
    inDir { dir =>
      // 3 groups, 4 shuffle partitions (the suite's width): one reduce
      // task is provably empty — the log knows it before any job runs
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => ((i % 3).toLong, i * 2.0)).toDF("k", "v"),
        statsCols = Seq("k"))
      val m = TxTable.readManifest(spark, dir, 1L)
      val w = TxTable.electAggWidth(m, "k", 4)
      assert(w.exists(x => x >= 3 && x < 4), s"3-group sketch must elect: $w")
      val a = TxTable.aggOnKey(spark, dir, "k", aggs)
      assert(planOf(a).contains(s"Coalesce ${w.get}"),
        s"the elected width must pin the plan:\n${planOf(a)}")
      assert(a.count() === 3)
      assert(a.orderBy("k").collect().map(_.getLong(1)).sum === 512L)
    }
    inDir { dir =>
      // NDV (8) at/above the width (4): None — never a narrowed guess
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => ((i % 8).toLong, i * 2.0)).toDF("k", "v"),
        statsCols = Seq("k"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(TxTable.electAggWidth(m, "k", 4).isEmpty)
      assert(!planOf(TxTable.aggOnKey(spark, dir, "k", aggs))
        .contains("Coalesce"))
    }
    inDir { dir =>
      // no sketch: conservative None even at tiny true NDV
      TxTable.commitReplace(spark, dir,
        (0 until 512).map(i => ((i % 3).toLong, i * 2.0)).toDF("k", "v"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(TxTable.electAggWidth(m, "k", 4).isEmpty)
      assert(!planOf(TxTable.aggOnKey(spark, dir, "k", aggs))
        .contains("Coalesce"))
    }
  }

  test("readTopK: manifest-stats file pruning — bound from (min, max, live " +
      "rows); DVs shift the walk, missing stats or tiny tables read all") {
    import spark.implicits._
    inDir { dir =>
      // 4 files with EXACT ranges [0,63][64,127][128,191][192,255]:
      // parallelize slices a local seq into contiguous even chunks, so
      // the per-file stats are exactly the quartile ranges
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
        (0 until 256).map(i => (i.toLong, s"r$i")), 4)).toDF("id", "tag")
      TxTable.commitReplace(spark, dir, df, statsCols = Seq("id"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.size === 4)
      // top-10 lives entirely in the last file: 64 live rows ≥ 10 ⇒
      // bound = 192 ⇒ one candidate
      assert(TxTable.topKCandidates(m, "id", 10).size === 1)
      assert(TxTable.readTopK(spark, dir, "id", 10, tieBreak = "tag")
        .collect().map(_.getLong(0)).toSeq ===
        (246L to 255L).reverse)
      // k = 100 needs two files (64 + 64 ≥ 100 ⇒ bound = 128)
      assert(TxTable.topKCandidates(m, "id", 100).size === 2)
      // more rows than the table holds: every file must be read
      assert(TxTable.topKCandidates(m, "id", 10000).size === 4)
      // tombstone the top 70 values: the last file's LIVE count drops
      // to 0, the walk continues into file 3, and the true top-10
      // shifts below the deleted range — rows stay correct while the
      // bound stays conservative (the emptied file's max still admits
      // it as a candidate)
      TxTable.deleteWhereDv(spark, dir, col("id") >= 186L)
      val v2 = TxTable.latestVersion(spark, dir).get
      val m2 = TxTable.readManifest(spark, dir, v2)
      assert(TxTable.topKCandidates(m2, "id", 10).size === 2)
      assert(TxTable.readTopK(spark, dir, "id", 10, tieBreak = "tag")
        .collect().map(_.getLong(0)).toSeq ===
        (176L to 185L).reverse)
    }
    inDir { dir =>
      // committed WITHOUT stats: no pruning, same rows (conservative)
      val df = (0 until 64).map(i => (i.toLong, s"r$i")).toDF("id", "tag")
        .repartition(4)
      TxTable.commitReplace(spark, dir, df)
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(TxTable.topKCandidates(m, "id", 5).size === m.files.size)
      assert(TxTable.readTopK(spark, dir, "id", 5, tieBreak = "tag")
        .collect().map(_.getLong(0)).toSeq === (59L to 63L).reverse)
    }
  }

  test("readTopK: NULL contract is enforced by the walk — a file whose " +
      "cumulative rows are NULL-valued cannot vouch for the bound; " +
      "ascending face mirrors; pre-upgrade manifests read everything") {
    inDir { dir =>
      // 4 exact files over seq 0..255; v = seq in files 0-2, but file 3
      // holds only THREE values (200, 201, 202 at seq 192-194) and 61
      // NULLs. The r17 walk counted file 3's 64 rows, derived bound
      // 200 from it alone, pruned everything else, and top-10 came
      // back as 3 values + 7 NULLs — the silent wrong answer this
      // cell pins against.
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until 256).map(i => (i.toLong, s"r$i")), 4)).toDF("seq", "tag")
        .withColumn("v",
          when(col("seq") >= 195, lit(null).cast("long"))
            .otherwise(when(col("seq").between(192, 194), col("seq") + 8)
              .otherwise(col("seq"))))
      TxTable.commitReplace(spark, dir, df, statsCols = Seq("v"))
      val m = TxTable.readManifest(spark, dir, 1L)
      assert(m.files.size === 4)
      // the NULL-heavy file recorded its ignorance precisely
      assert(m.files.exists(_.nulls.get("v").contains(61L)))
      assert(m.files.count(_.nulls.get("v").contains(0L)) === 3)
      // file 3 vouches for only 3 values, so the walk continues into
      // file 2 (bound 128): exactly those two files are candidates
      assert(TxTable.topKCandidates(m, "v", 10).size === 2)
      assert(TxTable.readTopK(spark, dir, "v", 10, tieBreak = "tag")
        .collect().map(_.getLong(2)).toSeq ===
        (Seq(202L, 201L, 200L) ++ (185L to 191L).reverse))
      // ascending face: smallest-10 lives entirely in file 0 (64
      // values ≥ 10 ⇒ bound 63 ⇒ one candidate; the NULL file's min
      // of 200 prunes it)
      assert(TxTable.topKCandidates(m, "v", 10, desc = false).size === 1)
      assert(TxTable.readTopK(spark, dir, "v", 10, tieBreak = "tag",
          desc = false)
        .collect().map(_.getLong(2)).toSeq === (0L to 9L))
      // a pre-upgrade manifest (stats but no null counts) must not
      // prune: ignorance reads, it never vouches
      val legacy = m.copy(files = m.files.map(_.copy(nulls = Map.empty)))
      assert(TxTable.topKCandidates(legacy, "v", 10).size === 4)
      assert(TxTable.topKCandidates(legacy, "v", 10, desc = false).size === 4)
    }
  }

  test("readNullness: IS NULL reads only null-carrying files, IS NOT NULL " +
      "skips all-null files; valid under DVs; unrecorded counts read all") {
    import spark.implicits._
    inDir { dir =>
      // same 4-file layout as the topK cell: files 0-2 fully valued,
      // file 3 = 61 NULLs + 3 values
      val df = spark.createDataFrame(spark.sparkContext.parallelize(
          (0 until 256).map(i => (i.toLong, s"r$i")), 4)).toDF("seq", "tag")
        .withColumn("v",
          when(col("seq") >= 195, lit(null).cast("long"))
            .otherwise(when(col("seq").between(192, 194), col("seq") + 8)
              .otherwise(col("seq"))))
      TxTable.commitReplace(spark, dir, df, statsCols = Seq("v"))
      // IS NULL: only the one null-carrying file opens
      val nullRows = TxTable.readNullness(spark, dir, "v", wantNull = true)
      assert(nullRows.count() === 61L)
      assert(nullRows.inputFiles.length === 1,
        "zero-null files must be skipped for IS NULL")
      // IS NOT NULL: file 3 is MIXED (3 values), so all 4 files read —
      // pruning may over-admit, never over-skip
      assert(TxTable.readNullness(spark, dir, "v", wantNull = false)
        .count() === 195L)
      // tombstone every VALUE in the null-carrying file: its null
      // count still admits it for IS NULL (over-admit), rows stay right
      TxTable.deleteWhereDv(spark, dir, col("v") >= 200L)
      assert(TxTable.readNullness(spark, dir, "v", wantNull = true)
        .count() === 61L)
      assert(TxTable.readNullness(spark, dir, "v", wantNull = false)
        .count() === 192L)
    }
    inDir { dir =>
      // nullness-clustered layout (a partition column derived from
      // nullness): the IS NOT NULL face skips the ALL-NULL partition's
      // files entirely
      val df = (0 until 128).map { i =>
        (i.toLong, if (i % 4 == 0) None else Some(i.toLong))
      }.toDF("seq", "v")
        .withColumn("side", when(col("v").isNull, lit("n")).otherwise(lit("x")))
      TxTable.commitReplace(spark, dir, df, partitionCol = Some("side"),
        statsCols = Seq("v"))
      val valued = TxTable.readNullness(spark, dir, "v", wantNull = false)
      assert(valued.count() === 96L)
      assert(valued.inputFiles.forall(_.contains("side=x")),
        "the all-null partition's files must be skipped for IS NOT NULL")
      assert(TxTable.readNullness(spark, dir, "v", wantNull = true)
        .inputFiles.forall(_.contains("side=n")))
    }
    inDir { dir =>
      // committed WITHOUT stats: no null counts recorded — both faces
      // read every file (conservative), rows still exact
      import spark.implicits._
      val df = (0 until 64).map { i =>
        (i.toLong, if (i % 2 == 0) None else Some(i.toLong))
      }.toDF("seq", "v").repartition(4)
      TxTable.commitReplace(spark, dir, df)
      val nulls = TxTable.readNullness(spark, dir, "v", wantNull = true)
      assert(nulls.count() === 32L)
      assert(nulls.inputFiles.length === 4, "unrecorded counts must read all")
      // metaNullCount fails LOUD on the missing counts, never guesses
      val e = intercept[RuntimeException] {
        TxTable.metaNullCount(spark, dir, "v")
      }
      assert(e.getMessage.contains("no 'v' null count"), e.getMessage)
    }
  }

  test("metaNullCount: exact from the log alone; refuses DV'd tables") {
    import spark.implicits._
    inDir { dir =>
      val df = (0 until 200).map { i =>
        (i.toLong, if (i % 5 == 0) None else Some(i.toLong))
      }.toDF("seq", "v").repartition(4)
      TxTable.commitReplace(spark, dir, df, statsCols = Seq("v"))
      assert(TxTable.metaNullCount(spark, dir, "v") === 40L)
      // deletion vectors void the recorded counts: refuse, don't drift
      TxTable.deleteWhereDv(spark, dir, col("seq") < 10L)
      val e = intercept[RuntimeException] {
        TxTable.metaNullCount(spark, dir, "v")
      }
      assert(e.getMessage.contains("deletion vectors"), e.getMessage)
    }
  }

  test("joinOnKey: reserved/colliding left columns are refused upfront, " +
      "not surfaced as an ambiguous-reference or silent duplicate name") {
    inDir { dir =>
      import spark.implicits._
      val dim = (0 until 8).map(i => (i.toLong, s"n$i")).toDF("uid", "label")
      TxTable.commitReplace(spark, dir, dim, statsCols = Seq("uid"))
      // the reserved probe name in the left frame would make the join
      // condition ambiguous
      val reserved = (0 until 4).map(i => (i.toLong, i.toLong))
        .toDF("k", "__graft_join_key")
      val e1 = intercept[IllegalArgumentException] {
        TxTable.joinOnKey(spark, dir, reserved, "k", "uid")
      }
      assert(e1.getMessage.contains("__graft_join_key"))
      // a row-carrying join renames the probe back to txKey: a left
      // frame already holding `uid` would end up with TWO `uid`
      // columns that fail only on first reference downstream
      val carrying = (0 until 4).map(i => (i.toLong, i.toLong)).toDF("k", "uid")
      val e2 = intercept[IllegalArgumentException] {
        TxTable.joinOnKey(spark, dir, carrying, "k", "uid", joinType = "inner")
      }
      assert(e2.getMessage.contains("uid"))
      // …while the key-only shapes keep accepting it (left columns
      // pass through untouched, no rename happens)
      assert(TxTable.joinOnKey(spark, dir, carrying, "k", "uid").count() === 4)
      // collision is checked the way Spark RESOLVES names: 'UID' vs
      // 'uid' collides under the default case-insensitive resolution
      // (r16 ADVICE — a sensitive compare slipped it past the guard
      // into the downstream ambiguous-name failure)
      val upper = (0 until 4).map(i => (i.toLong, i.toLong)).toDF("k", "UID")
      val e3 = intercept[IllegalArgumentException] {
        TxTable.joinOnKey(spark, dir, upper, "k", "uid", joinType = "inner")
      }
      assert(e3.getMessage.contains("uid"))
    }
  }

  test("compaction-starved table: 50 stacked DV commits read via ONE " +
      "compact-sized container per file") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(200), Some("pbucket"))
      // 50 point-DML waves, no maintenance in between — the r15
      // VERDICT shape where the old collect_list read carried 50
      // containers per file and probed every one per row
      (0 until 50).foreach(i =>
        TxTable.deleteWhereDv(spark, dir, col("event_id") === i.toLong))
      val expect = snap(200).where(col("event_id") >= 50)
      assert(rows(TxTable.read(spark, dir)) === rows(expect))
      assert(TxTable.metaCount(spark, dir) === 150L)
      val m = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(m.files.map(_.dvs.size).max >= 10,
        "the scenario must genuinely stack refs (no silent compaction)")
      // READ-SIDE PAYLOAD BOUND: OR-folding a file's whole stack
      // (exactly what readFiles' driver fold does) yields bytes
      // IDENTICAL to the ONE container compact would write for its
      // tombstone set — per-file DV payload is bounded by the united
      // position set, independent of how many DML commits produced it
      val dvDirs = m.files.flatMap(_.dvs.map(_.dir)).distinct
      val sidecars = dvDirs.map(d => spark.read.parquet(s"$dir/$d"))
        .reduce(_.unionByName(_))
      val posByFile = sidecars.collect()
        .map(r => r.getAs[String]("file") -> r.getAs[Array[Byte]]("bits"))
        .groupBy(_._1)
        .view.mapValues(_.flatMap(e => DvBitmap.positions(e._2))
          .distinct.sorted).toMap
      val merged = TxTable.dvMap(spark, new org.apache.hadoop.fs.Path(dir),
        m.files.filter(_.dvs.nonEmpty)).map { case (f, b) => f.toString -> b }
      assert(merged.keySet === posByFile.keySet)
      merged.foreach { case (f, bytes) =>
        assert(java.util.Arrays.equals(bytes, DvBitmap.pack(posByFile(f))),
          s"merged container of $f must be byte-identical to compact's")
      }
    }
  }

  test("table root containing a space: DV tombstones attach; COW DML matches") {
    inDir { base =>
      // the scan's _metadata.file_path renders this root URL-ENCODED
      // (file:/…/graft%20table%20dir/…) while the manifest stores the
      // decoded listing — row identity must bridge the two domains or
      // every tombstone silently misses its manifest entry
      val dir = s"$base/graft table dir/t"
      TxTable.commitReplace(spark, dir, snap(20), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 5 === 0)
      val m = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(m.files.exists(_.dvs.nonEmpty),
        "tombstones must attach to manifest entries under an encoded root")
      val expect1 = snap(20).where(!(col("event_id") % 5 === 0))
      assert(rows(TxTable.read(spark, dir)) === rows(expect1))
      assert(TxTable.metaCount(spark, dir) === expect1.count())
      // COW DML file-identity matching crosses the same seam
      TxTable.deleteWhere(spark, dir, col("event_id") === 7L, Some("pbucket"))
      assert(rows(TxTable.read(spark, dir)) ===
        rows(expect1.where(col("event_id") =!= 7L)))
    }
  }

  test("a fully-emptied table still reads, merges and re-inserts") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(6), Some("pbucket"))
      val wipe = (0 until 6).map(i => (i.toLong, "delete", 0.0, (i % 4).toLong))
        .toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, wipe, "event_id", "op", "pbucket")
      val m = TxTable.readManifest(spark, dir, 2L)
      assert(m.files.isEmpty, "every partition emptied -> zero live files")
      // the legal zero-file state reads as zero rows (schema off the
      // manifest), counts as zero, and DML no-ops instead of erroring
      assert(TxTable.read(spark, dir).count() === 0L)
      assert(TxTable.metaCount(spark, dir) === 0L)
      assert(TxTable.deleteWhere(spark, dir, col("event_id") === 1L,
        Some("pbucket")) === 2L)
      assert(TxTable.deleteWhereDv(spark, dir, col("event_id") === 1L) === 2L)
      // …and the table revives through the SAME merge path (this used
      // to crash at the slice construction and brick the table)
      val back = Seq((100L, "insert", 5.0, 0L), (101L, "insert", 6.0, 1L))
        .toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSet(spark, dir, back, "event_id", "op", "pbucket")
      assert(rows(TxTable.read(spark, dir)) ===
        Set((100L, 5.0, 0L), (101L, 6.0, 1L)))
      // CDC spans the empty version in both directions
      val ops = TxTable.changesBetween(spark, dir, 2L, 3L, "event_id")
        .select("op").collect().map(_.getString(0))
      assert(ops.length === 2 && ops.toSet === Set("insert"))
    }
  }

  test("bucket-less rewrite of a partitioned table is refused loud") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      // default partitionCol=None would write bucket-less files that
      // later partition-pruned merges silently skip — refuse instead
      val e = intercept[IllegalArgumentException](
        TxTable.deleteWhere(spark, dir, col("event_id") === 1L))
      assert(e.getMessage.contains("partitioned"), e.getMessage)
      val e2 = intercept[IllegalArgumentException](
        TxTable.updateWhereDv(spark, dir, col("event_id") === 1L,
          Seq("value" -> lit(0.0))))
      assert(e2.getMessage.contains("partitioned"), e2.getMessage)
      assert(TxTable.latestVersion(spark, dir).contains(1L),
        "refusal must leave the table untouched")
    }
  }

  test("history reports a DV commit as zero added files (carried entries modified)") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(16), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 3 === 0)
      val h = TxTable.history(spark, dir).orderBy("version").collect()
      assert(h(1).getString(1) === "delete-dv")
      assert(h(1).getLong(4) === 0L,
        s"a zero-rewrite MoR delete must report n_added=0: ${h(1).toSeq}")
      assert(h(1).getLong(5) === h(1).getLong(3), "all files carried")
    }
  }

  test("maintainIfNeeded: DV debt alone PURGES (file-granular); " +
      "fragmentation compacts") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(40), Some("pbucket"))
      // fresh single-file-per-partition layout, zero DVs: within budget
      assert(TxTable.maintainIfNeeded(spark, dir, "pbucket") === None)
      // one small MoR delete: 8/40 = 20% tombstoned rows > 10% default
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 5 === 0)
      assert(TxTable.maintainIfNeeded(spark, dir, "pbucket",
        maxDvRatio = 0.5) === None, "20% debt within a 50% budget")
      val visible = rows(TxTable.read(spark, dir))
      val v = TxTable.maintainIfNeeded(spark, dir, "pbucket")
      assert(v.contains(3L), s"20% debt must trigger at the 10% default: $v")
      val m = TxTable.readManifest(spark, dir, 3L)
      assert(m.files.forall(_.dvs.isEmpty), "the sweep reconciles the debt")
      // debt WITHOUT fragmentation takes the cheapest sweep: purge
      assert(TxTable.history(spark, dir).where(col("version") === 3L)
        .select("op").collect().head.getString(0) === "purge")
      assert(rows(TxTable.read(spark, dir)) === visible)
      // fragmentation face: three appending merges -> >3 files somewhere
      import spark.implicits._
      (1 to 3).foreach { i =>
        val ins = Seq((1000L + i, "insert", 1.0, 0L))
          .toDF("event_id", "op", "value", "pbucket")
        TxTable.mergeChangeSet(spark, dir, ins, "event_id", "op", "pbucket")
      }
      val v2 = TxTable.maintainIfNeeded(spark, dir, "pbucket",
        maxFilesPerPartition = 3)
      assert(v2.isDefined, "4 files in pbucket=0")
      assert(TxTable.history(spark, dir).where(col("version") === v2.get)
        .select("op").collect().head.getString(0) === "compact")
      assert(TxTable.maintainIfNeeded(spark, dir, "pbucket",
        maxFilesPerPartition = 3) === None, "post-compact layout is clean")
    }
  }

  test("file-skipping stats under stacked DVs: conservative (never prune a " +
      "surviving match) until compactClustered re-tightens them") {
    // THE CONTRACT: manifest min/max (and blooms) are computed when a
    // file is WRITTEN; merge-on-read DML never rewrites files, so
    // after heavy DV stacking the stats are stale-but-conservative —
    // a fully-tombstoned range still admits its files (wasted IO,
    // never a wrong answer). The decay→compact loop is the fix:
    // compaction reconciles tombstones physically and propagateSkipping
    // recomputes stats from the SURVIVING rows, restoring tight pruning.
    inDir { dir =>
      import spark.implicits._
      val base = (0L until 1000L).map(i => (i, i * 2.0)).toDF("event_id", "value")
        .repartitionByRange(4, col("event_id"))
        .sortWithinPartitions("event_id")
      TxTable.commitReplace(spark, dir, base, partitionCol = None,
        statsCols = Seq("event_id"))
      val v1Stats = TxTable.readManifest(spark, dir, 1L)
        .files.map(f => f.path -> f.stats("event_id")).toMap
      // stack two DV waves: one kills an entire file's range, the
      // second tombstones scattered rows across the survivors
      TxTable.deleteWhereDv(spark, dir, col("event_id") < 250)
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 7 === 0)
      val expect = (250L until 1000L).filter(_ % 7 != 0)
      // range reads stay EXACT through the stale stats: the DV
      // subtraction applies inside the pruned slice
      val got = TxTable.readRange(spark, dir, "event_id", 0L, 500L)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
      assert(got === expect.filter(_ <= 500L))
      // a fully-dead range: zero rows, even though the stale stats
      // still admit the dead file (conservative, not wrong)
      assert(TxTable.readRange(spark, dir, "event_id", 0L, 100L).count() === 0L)
      val v3 = TxTable.readManifest(spark, dir, 3L)
      assert(v3.files.map(f => f.path -> f.stats("event_id")).toMap === v1Stats,
        "DV commits must not (and cannot) touch the per-file stats")
      assert(v3.files.exists(_.stats("event_id")._1 <= 100L),
        "pre-compact, the dead range is still admitted by some file")
      // point probe through stats+DVs: a tombstoned key reads empty, a
      // surviving key reads exactly once
      assert(TxTable.readPoint(spark, dir, "event_id", Seq("7")).count() === 0L)
      assert(TxTable.readPoint(spark, dir, "event_id", Seq("251")).count() === 1L)
      // compact re-clusters the SURVIVORS and re-tightens the stats
      TxTable.compactClustered(spark, dir, None, "event_id", "event_id", 4)
      val v4 = TxTable.readManifest(spark, dir, 4L)
      assert(v4.files.forall(_.dvs.isEmpty), "compaction reconciles the DVs")
      assert(v4.files.forall(_.stats("event_id")._1 >= 250L),
        "post-compact stats must reflect only surviving rows")
      assert(!v4.files.exists(_.stats("event_id")._1 <= 100L),
        "the dead range now prunes on the manifest alone")
      assert(TxTable.read(spark, dir)
        .select("event_id").collect().map(_.getLong(0)).sorted.toSeq === expect)
    }
  }

  test("racing MoR deletes under withConflictRetry all land; content equals sequential") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(60), Some("pbucket"))
      import scala.concurrent.{Await, Future}
      import scala.concurrent.duration._
      import scala.concurrent.ExecutionContext.Implicits.global
      // disjoint predicates racing on the SAME base version: each
      // writer's recompute-on-conflict re-reads the winner's DV state
      val preds = Seq(
        col("event_id") % 5 === 0,
        col("event_id") % 7 === 1,
        col("event_id") % 11 === 2)
      val racers = preds.map(p => Future(
        TxTable.withConflictRetry(maxRetries = 10)(
          TxTable.deleteWhereDv(spark, dir, p))))
      Await.result(Future.sequence(racers), 120.seconds)
      assert(TxTable.latestVersion(spark, dir).contains(4L),
        "three DV commits must serialize to versions 2..4")
      val expect = snap(60)
        .where(!(col("event_id") % 5 === 0))
        .where(!(col("event_id") % 7 === 1))
        .where(!(col("event_id") % 11 === 2))
      assert(rows(TxTable.read(spark, dir)) === rows(expect))
      assert(TxTable.metaCount(spark, dir) === expect.count())
    }
  }

  test("a row-form DV sidecar fails the read, naming the file and its dir") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(30), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 3 === 0)
      // rewrite the just-written sidecar into the PRE-BITMAP row form
      // (one (file, pos) row per tombstone, no `bits` column): read as
      // "nothing tombstoned" it would resurrect every deleted row
      val m = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      val dvDirs = m.files.flatMap(_.dvs.map(_.dir)).distinct
      assert(dvDirs.size === 1)
      val dvPath = java.nio.file.Paths.get(dir, dvDirs.head)
      val rowForm = spark.read.parquet(dvPath.toString)
        .select("file", "bits").collect()
        .flatMap(r => DvBitmap.positions(r.getAs[Array[Byte]]("bits"))
          .map(p => (r.getString(0), p)))
      import spark.implicits._
      val tmpOut = java.nio.file.Paths.get(dir, "legacy_tmp")
      rowForm.toSeq.toDF("file", "pos").write.parquet(tmpOut.toString)
      def rmTree(p: java.nio.file.Path): Unit =
        java.nio.file.Files.walk(p)
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
      rmTree(dvPath)
      java.nio.file.Files.move(tmpOut, dvPath)
      val tombstoned = m.files.filter(_.dvs.nonEmpty).map(_.path)
      assert(tombstoned.nonEmpty)
      val e = intercept[IllegalArgumentException](TxTable.read(spark, dir))
      assert(e.getMessage.contains(dvDirs.head), e.getMessage)
      assert(tombstoned.exists(e.getMessage.contains), e.getMessage)
      // a DML whose predicate scan reads through the sidecar fails the
      // same way, before it publishes anything
      val v = TxTable.latestVersion(spark, dir)
      intercept[IllegalArgumentException](
        TxTable.deleteWhereDv(spark, dir, col("event_id") % 2 === 1))
      assert(TxTable.latestVersion(spark, dir) === v)
    }
  }

  test("an empty slice opens no DV sidecar and keeps the table's schema") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(40), Some("pbucket"),
        statsCols = Seq("event_id"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 3 === 0)
      val m = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      val dvDirs = m.files.flatMap(_.dvs.map(_.dir)).distinct
      assert(dvDirs.nonEmpty, "the scenario needs live DVs")
      val schema = TxTable.read(spark, dir).schema
      dvDirs.foreach { d =>
        java.nio.file.Files.walk(java.nio.file.Paths.get(dir, d))
          .sorted(java.util.Comparator.reverseOrder())
          .forEach(q => java.nio.file.Files.delete(q))
      }
      // every file's event_id stats lie below 1000: the range prunes all
      val none = TxTable.readRange(spark, dir, "event_id", 1000L, 2000L)
      assert(none.schema === schema)
      assert(none.count() === 0L)
    }
  }

  test("compact reconciles DVs away; vacuum retires the orphaned sidecars") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(24), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 3 === 0)
      val visible = rows(TxTable.read(spark, dir))
      val mBefore = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(mBefore.files.exists(_.dvs.nonEmpty), "DV refs must be live")
      val dvDirs = mBefore.files.flatMap(_.dvs.map(_.dir)).distinct
      assert(dvDirs.nonEmpty)
      TxTable.compact(spark, dir, "pbucket")
      // physically-deleted content == DV-visible content, refs gone
      assert(rows(TxTable.read(spark, dir)) === visible)
      val mAfter = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(mAfter.files.forall(_.dvs.isEmpty),
        "compact must publish DV-free entries")
      assert(TxTable.metaCount(spark, dir) === visible.size.toLong)
      // sidecars stay while the DV'd version is retained …
      dvDirs.foreach { d =>
        assert(java.nio.file.Files.isDirectory(
          java.nio.file.Paths.get(dir, d)), s"$d must survive: v2 references it")
      }
      // … and fall to vacuum once that version is retired
      TxTable.vacuum(spark, dir, keepVersions = Some(1), retentionMs = 0L)
      dvDirs.foreach { d =>
        assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, d)),
          s"$d must be swept once no retained manifest references it")
      }
      assert(rows(TxTable.read(spark, dir)) === visible)
    }
  }

  test("copy-on-write DML rewrites ONLY the files containing matches " +
      "(root-relative paths, not colliding names)") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(40), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      // predicate confined to pbucket 2, PARTIALLY matching each file it
      // touches (a fully-matched file would vanish by reference with no
      // rewrite at all) — same-NAMED part files exist in every other
      // pbucket dir and must carry forward byte-identical
      TxTable.deleteWhere(spark, dir,
        col("pbucket") === 2 && col("event_id") % 8 === 2,
        partitionCol = Some("pbucket"))
      val afterBytes = dataBytes(dir)
      // v1 files all survive for time travel; the REWRITE footprint is
      // the set of freshly written files — it must be confined to the
      // touched partition (a name-keyed match would have rewritten the
      // same-named sibling in every pbucket dir)
      val newFiles = afterBytes.keySet -- beforeBytes.keySet
      assert(newFiles.nonEmpty && newFiles.forall(_.contains("pbucket=2")),
        s"COW rewrote outside the touched partition: $newFiles")
      beforeBytes.foreach { case (p, bytes) =>
        assert(afterBytes.get(p).contains(bytes),
          s"an existing file's bytes changed: $p")
      }
      assert(rows(TxTable.read(spark, dir)) ===
        rows(snap(40).where(!(col("pbucket") === 2 && col("event_id") % 8 === 2))))
    }
  }

  test("updateWhereDv: merge-on-read UPDATE — byte-identity, stacking, " +
      "metaCount, compact, constraints") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(40), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      // unclustered MoR update: RHS evaluated against the OLD row
      val v2 = TxTable.updateWhereDv(spark, dir, col("event_id") % 5 === 0,
        Seq("value" -> (col("value") + col("event_id").cast("double"))),
        Some("pbucket"))
      assert(v2 === 2L)
      // every PRE-EXISTING file is byte-identical (the new images live
      // in a fresh commit dir)
      beforeBytes.foreach { case (p, bytes) =>
        assert(dataBytes(dir).get(p).contains(bytes), s"file mutated: $p")
      }
      def expect1 = snap(40).withColumn("value",
        when(col("event_id") % 5 === 0,
          col("value") + col("event_id").cast("double"))
          .otherwise(col("value")))
      assert(rows(TxTable.read(spark, dir)) === rows(expect1))
      // row count is unchanged and still metadata-only
      assert(TxTable.metaCount(spark, dir) === 40L)
      // STACKED MoR delete: must see the updated images (value for
      // id 30 is 300+30=330 — delete >= 320 hits updated rows only)
      TxTable.updateWhereDv(spark, dir, col("event_id") === 4L,
        Seq("value" -> lit(-1.0)), Some("pbucket"))
      val expect2 = expect1.withColumn("value",
        when(col("event_id") === 4L, lit(-1.0)).otherwise(col("value")))
      TxTable.deleteWhereDv(spark, dir, col("value") < 0)
      val expect3 = expect2.where(!(col("value") < 0))
      assert(rows(TxTable.read(spark, dir)) === rows(expect3))
      assert(TxTable.metaCount(spark, dir) === 39L)
      // time travel through the whole MoR stack
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) ===
        rows(snap(40)))
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(2L))) ===
        rows(expect1))
      // compact reconciles images + tombstones physically
      TxTable.compact(spark, dir, "pbucket")
      assert(rows(TxTable.read(spark, dir)) === rows(expect3))
      val mAfter = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(mAfter.files.forall(_.dvs.isEmpty))
      // a no-match update publishes nothing
      val vNow = TxTable.latestVersion(spark, dir).get
      assert(TxTable.updateWhereDv(spark, dir, col("event_id") > 10000,
        Seq("value" -> lit(0.0)), Some("pbucket")) === vNow)
    }
  }

  test("mergeIntoDv: clause semantics, byte-identity of ALL pre-existing " +
      "files, metaCount, time travel, compact") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      // same clause matrix as the COW mergeInto test:
      //   id 0: matched, delete AND update cond -> deleted (delete wins)
      //   id 1: matched, update cond -> value = t.value + s.bonus
      //   id 4: matched, no cond -> kept IN PLACE (no tombstone)
      //   id 100: unmatched, insert gate true -> inserted
      //   id 101: unmatched, insert gate false -> dropped
      val source = Seq(
        (0L, true, true, 7.0, 0L),
        (1L, false, true, 7.0, 1L),
        (4L, false, false, 7.0, 0L),
        (100L, false, false, 50.0, 0L),
        (101L, false, false, -50.0, 1L)
      ).toDF("event_id", "del", "upd", "bonus", "pbucket")
        .withColumn("value", col("bonus") * 2)
      val v2 = TxTable.mergeIntoDv(spark, dir, source, "event_id", "pbucket",
        whenMatchedDelete = Some(col("s.del")),
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        whenMatchedUpdateCond = Some(col("s.upd")),
        whenNotMatchedInsert = Some(col("s.value") > 0))
      assert(v2 === 2L)
      val expected = rows(snap(12))
        .filterNot(_._1 == 0L)
        .map { case (id, v, b) => if (id == 1L) (id, v + 7.0, b) else (id, v, b) }
        .+((100L, 100.0, 0L))
      assert(rows(TxTable.read(spark, dir)) === expected)
      // EVERY pre-existing file is byte-identical — the MoR contract
      // (COW mergeInto only promises this for untouched partitions)
      val after = dataBytes(dir)
      beforeBytes.foreach { case (p, bytes) =>
        assert(after.get(p).contains(bytes), s"pre-existing file mutated: $p")
      }
      // 12 - 2 tombstoned + 1 image + 1 insert, exact off the log
      assert(TxTable.metaCount(spark, dir) === 12L)
      // time travel through the MoR merge
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L))) ===
        rows(snap(12)))
      // compact reconciles tombstones + images + inserts physically
      TxTable.compact(spark, dir, "pbucket")
      assert(rows(TxTable.read(spark, dir)) === expected)
      val mAfter = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(mAfter.files.forall(_.dvs.isEmpty))
    }
  }

  test("mergeIntoDv: NULL conds false, txn replay no-ops, no-change " +
      "merge publishes nothing, cardinality violation aborts") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      val source = Seq(
        (2L, Option.empty[Boolean], 3.0, 2L),   // NULL update cond -> kept
        (200L, Option.empty[Boolean], 9.0, 0L)  // NULL insert gate -> dropped
      ).toDF("event_id", "gate", "bonus", "pbucket")
      val v = TxTable.mergeIntoDv(spark, dir, source, "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        whenMatchedUpdateCond = Some(col("s.gate")),
        whenNotMatchedInsert = Some(col("s.gate")),
        txn = Some(("app-midv", 1L)))
      // nothing changed -> no commit published at all
      assert(v === 1L)
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)))
      // a real commit under the txn, then an idempotent replay
      val v2 = TxTable.mergeIntoDv(spark, dir,
        Seq((3L, 1.0, 3L)).toDF("event_id", "bonus", "pbucket"),
        "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        txn = Some(("app-midv", 2L)))
      assert(v2 === 2L)
      val replay = TxTable.mergeIntoDv(spark, dir,
        Seq((4L, 1.0, 0L)).toDF("event_id", "bonus", "pbucket"),
        "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        txn = Some(("app-midv", 2L)))
      assert(replay === 2L)
      assert(rows(TxTable.read(spark, dir)) ===
        rows(snap(8)).map { case (id, vv, b) =>
          if (id == 3L) (id, vv + 1.0, b) else (id, vv, b) })
      // two source rows claim target row 2 for update -> abort, and
      // the table provably stays at the pre-merge state
      val e = intercept[RuntimeException] {
        TxTable.mergeIntoDv(spark, dir,
          Seq((2L, 1.0, 2L), (2L, 5.0, 2L)).toDF("event_id", "bonus", "pbucket"),
          "event_id", "pbucket",
          whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))))
      }
      assert(e.getMessage.contains("cardinality"), e.getMessage)
      assert(TxTable.latestVersion(spark, dir) === Some(2L))
    }
  }

  test("updateWhereDv and mergeIntoDv release every block they materialize") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      def pinned = spark.sparkContext.getPersistentRDDs.keySet
      val before = pinned
      TxTable.updateWhereDv(spark, dir, col("event_id") < 3L,
        Seq("value" -> (col("value") + 1.0)), Some("pbucket"))
      assert((pinned -- before).isEmpty, "updateWhereDv left blocks pinned")
      TxTable.mergeIntoDv(spark, dir,
        Seq((4L, 1.0, 0L), (300L, 2.0, 0L)).toDF("event_id", "value", "pbucket"),
        "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> col("s.value")),
        whenNotMatchedInsert = Some(lit(true)))
      assert((pinned -- before).isEmpty, "mergeIntoDv left blocks pinned")
      // a merge aborted by the cardinality check releases its blocks too
      intercept[RuntimeException] {
        TxTable.mergeIntoDv(spark, dir,
          Seq((2L, 1.0, 2L), (2L, 5.0, 2L)).toDF("event_id", "value", "pbucket"),
          "event_id", "pbucket", whenMatchedUpdate = Seq("value" -> col("s.value")))
      }
      assert((pinned -- before).isEmpty, "an aborted mergeIntoDv left blocks pinned")
    }
  }

  test("mergeInto and mergeIntoDv evaluate their source exactly once") {
    Seq(false, true).foreach { dv =>
      inDir { dir =>
        import spark.implicits._
        TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
        val acc = spark.sparkContext.longAccumulator(s"merge-source-evals-$dv")
        val bump = udf((v: Long) => { acc.add(1L); v }).asNondeterministic()
        val source = Seq((1L, 5.0, 1L), (2L, -6.0, 2L), (500L, 7.0, 0L))
          .toDF("event_id", "value", "pbucket")
          .withColumn("event_id", bump(col("event_id")))
        val del = Some(col("s.value") < 0.0)
        val upd = Seq("value" -> col("s.value"))
        val ins = Some(lit(true))
        if (dv) TxTable.mergeIntoDv(spark, dir, source, "event_id", "pbucket",
          whenMatchedDelete = del, whenMatchedUpdate = upd, whenNotMatchedInsert = ins)
        else TxTable.mergeInto(spark, dir, source, "event_id", "pbucket",
          whenMatchedDelete = del, whenMatchedUpdate = upd, whenNotMatchedInsert = ins)
        assert(acc.value === 3L,
          s"dv=$dv: the source must evaluate once (saw ${acc.value} row evals)")
        val expected = rows(snap(12)).collect {
          case (1L, _, b) => (1L, 5.0, b)
          case r if r._1 != 2L => r
        } + ((500L, 7.0, 0L))
        assert(rows(TxTable.read(spark, dir)) === expected)
      }
    }
  }

  test("mergeIntoDv stacks on prior DVs and composes with compact") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      // a prior MoR delete tombstones id 5; the merge's slice must
      // read THROUGH it (id 5 is invisible -> its key INSERTS)
      TxTable.deleteWhereDv(spark, dir, col("event_id") === 5L)
      val source = Seq((5L, 7.0, 1L), (6L, 2.0, 2L))
        .toDF("event_id", "bonus", "pbucket")
        .withColumn("value", col("bonus") * 100)
      TxTable.mergeIntoDv(spark, dir, source, "event_id", "pbucket",
        whenMatchedUpdate = Seq("value" -> (col("t.value") + col("s.bonus"))),
        whenNotMatchedInsert = Some(lit(true)))
      val expected = rows(snap(12)).filterNot(_._1 == 5L)
        .map { case (id, v, b) => if (id == 6L) (id, v + 2.0, b) else (id, v, b) }
        .+((5L, 700.0, 1L))
      assert(rows(TxTable.read(spark, dir)) === expected)
      assert(TxTable.metaCount(spark, dir) === 12L)
      TxTable.compact(spark, dir, "pbucket")
      assert(rows(TxTable.read(spark, dir)) === expected)
    }
  }

  test("compactClustered: re-layout restores 2-D skipping eroded by a " +
      "shuffled write; DV-reconciling; content-identical") {
    inDir { dir =>
      import spark.implicits._
      val data = (0L until 4096L).map(i => (i % 64, (i / 64) % 64, i * 1.0))
        .toDF("x", "y", "value")
      // SHUFFLED layout: every file spans both domains, so the 2-D box
      // can prune (almost) nothing off the manifest
      TxTable.commitReplace(spark, dir, data.repartition(16),
        partitionCol = None, statsCols = Seq("x", "y"))
      val before = TxTable.readRanges(spark, dir,
        Seq(("x", 8L, 15L), ("y", 8L, 15L))).inputFiles.length
      // DML wave the re-layout must survive AND reconcile
      TxTable.deleteWhereDv(spark, dir, col("value") < 640.0)
      TxTable.compactClustered(spark, dir, None, "x", "y", 16)
      val expect = data.where(!(col("value") < 640.0))
      val box = TxTable.readRanges(spark, dir, Seq(("x", 8L, 15L), ("y", 8L, 15L)))
      val expBox = expect.where(col("x").between(8, 15) && col("y").between(8, 15))
      assert(box.count() === expBox.count())
      assert(box.agg(sum("value")).head.getDouble(0) ===
        expBox.agg(sum("value")).head.getDouble(0))
      // the re-layout must prune STRICTLY better than the shuffled one
      val m = TxTable.readManifest(spark, dir,
        TxTable.latestVersion(spark, dir).get)
      assert(m.files.size === 16)
      assert(box.inputFiles.length < before,
        s"z-layout box reads ${box.inputFiles.length} files, shuffled read $before")
      assert(box.inputFiles.length < m.files.size)
      // DVs reconciled physically; count exact off the log
      assert(m.files.forall(_.dvs.isEmpty))
      assert(TxTable.metaCount(spark, dir) === expect.count())
      // whole-table content identical; v1 still time-travels
      assert(TxTable.read(spark, dir).agg(sum("value")).head.getDouble(0) ===
        expect.agg(sum("value")).head.getDouble(0))
      assert(TxTable.read(spark, dir, versionAsOf = Some(1L)).count() === 4096L)
    }
  }

  test("mergeChangeSetDv: equals batch applyChangeSet; byte-identity; " +
      "duplicate keys tombstone once; txn replay; extras refused") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val beforeBytes = dataBytes(dir)
      val cs = changes() // insert 100, update 1 -> -1.0, delete 2
      val v2 = TxTable.mergeChangeSetDv(spark, dir, cs,
        "event_id", "op", "pbucket", txn = Some(("a", 1L)))
      assert(v2 === 2L)
      val expected = Cdc.applyChangeSet(snap(12), cs, "event_id", "op")
      assert(rows(TxTable.read(spark, dir)) === rows(expected))
      beforeBytes.foreach { case (p, bytes) =>
        assert(dataBytes(dir).get(p).contains(bytes), s"file mutated: $p")
      }
      // 12 − 2 vacated + 1 insert + 1 update image, exact off the log
      assert(TxTable.metaCount(spark, dir) === 12L)
      // idempotent replay no-ops at the committed version
      assert(TxTable.mergeChangeSetDv(spark, dir, cs,
        "event_id", "op", "pbucket", txn = Some(("a", 1L))) === 2L)
      // DUPLICATE update rows on one key: the semi-join tombstones the
      // target row ONCE; both images append — exactly applyChangeSet
      val dup = Seq((3L, "update", 7.0, 3L), (3L, "update", 8.0, 3L))
        .toDF("event_id", "op", "value", "pbucket")
      TxTable.mergeChangeSetDv(spark, dir, dup, "event_id", "op", "pbucket")
      val expected2 = Cdc.applyChangeSet(expected, dup, "event_id", "op")
      assert(rows(TxTable.read(spark, dir)) === rows(expected2))
      assert(TxTable.metaCount(spark, dir) === 13L)
      // evolution stays a COW concern — fail loud, never drop
      val e = intercept[IllegalArgumentException] {
        TxTable.mergeChangeSetDv(spark, dir,
          Seq((1L, "insert", 1.0, 1L, "x"))
            .toDF("event_id", "op", "value", "pbucket", "note"),
          "event_id", "op", "pbucket")
      }
      assert(e.getMessage.contains("evolve"), e.getMessage)
    }
  }

  test("CDC sees merge-on-read DML: a DV-only commit changes no file " +
      "PATH, but changesBetween still reports its rows") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") === 3L)
      TxTable.updateWhereDv(spark, dir, col("event_id") === 6L,
        Seq("value" -> lit(99.0)), Some("pbucket"))
      val diff = TxTable.changesBetween(spark, dir, 1L, 3L, "event_id")
      val ops = diff.select("event_id", "op").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
      assert(ops === Set((3L, "delete"), (6L, "update")))
      // and the feed round-trips: apply(read(v1), diff) == read(v3)
      val applied = Cdc.applyChangeSet(snap(12), diff, "event_id", "op")
      assert(rows(applied) === rows(TxTable.read(spark, dir)))
      // the IVM (both-images) shape carries the before image of the
      // DV-updated row — the subtract half a maintained agg needs
      val imgs = TxTable.changesBetweenImages(spark, dir, 1L, 3L, "event_id")
      val upd = imgs.where(col("op") === "update").collect()
      assert(upd.length === 1)
      assert(upd.head.getStruct(upd.head.fieldIndex("before"))
        .getDouble(0) === 60.0)
      assert(upd.head.getStruct(upd.head.fieldIndex("after"))
        .getDouble(0) === 99.0)
    }
  }

  test("mergeChangeSetDv evolveSchema: new column rides fresh files only; " +
      "carried rows read NULL; zero target rewrites") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      val bytesBefore = dataBytes(dir)
      val evolved = Seq(
        (100L, "insert", 1000.0, 0L, "minted"),
        (1L, "update", -1.0, 1L, "touched"),
        (2L, "delete", 0.0, 2L, null)
      ).toDF("event_id", "op", "value", "pbucket", "note")
      TxTable.mergeChangeSetDv(spark, dir, evolved,
        "event_id", "op", "pbucket", evolveSchema = true)
      val got = TxTable.read(spark, dir)
      assert(got.columns.toSet ===
        Set("event_id", "value", "pbucket", "note"))
      // content equals the COW evolving apply
      val expect = Cdc.applyChangeSet(snap(12), evolved, "event_id", "op",
        evolveSchema = true)
      def wide(df: DataFrame): Set[(Long, Double, Long, Option[String])] =
        df.select(col("event_id"), col("value"),
            col("pbucket").cast("long"), col("note"))
          .collect().map(r =>
            (r.getLong(0), r.getDouble(1), r.getLong(2),
              Option(r.getString(3)))).toSet
      assert(wide(got) === wide(expect))
      // carried rows are NULL in the new column; change rows carry it
      assert(wide(got).count(_._4.isDefined) === 2)
      // the no-rewrite claim, byte-for-byte: every pre-merge data file
      // is still on disk unmodified
      val after = dataBytes(dir)
      bytesBefore.foreach { case (p, bs) =>
        assert(after.get(p).contains(bs), s"target file rewritten: $p")
      }
      // and the evolved table still merges/travels: v1 has no note
      assert(!TxTable.read(spark, dir, versionAsOf = Some(1L))
        .columns.contains("note"))
      // CDC spans the MoR-evolution commit: the feed carries the new
      // column (NULL on the before side) and round-trips the merge
      val diff = TxTable.changesBetween(spark, dir, 1L, 2L, "event_id")
      assert(diff.columns.contains("note"))
      assert(wide(Cdc.applyChangeSet(snap(12), diff, "event_id", "op",
        evolveSchema = true)) === wide(got))
    }
  }

  test("purgeTombstoned rewrites ONLY DV-carrying files; clean siblings " +
      "in the same partition stay byte-identical and carried") {
    inDir { dir =>
      import spark.implicits._
      TxTable.commitReplace(spark, dir, snap(12), Some("pbucket"))
      // a MoR merge appends a FRESH file into bucket 0 without touching
      // the original — bucket 0 now holds two files
      TxTable.mergeChangeSetDv(spark, dir,
        Seq((100L, "insert", 1.0, 0L)).toDF("event_id", "op", "value", "pbucket"),
        "event_id", "op", "pbucket")
      val bytesBefore = dataBytes(dir)
      // tombstone a row living in bucket 0's ORIGINAL file only
      TxTable.deleteWhereDv(spark, dir, col("event_id") === 4L)
      val expected = rows(TxTable.read(spark, dir))
      val m3 = TxTable.readManifest(spark, dir, 3L)
      val carrying = m3.files.filter(_.dvs.nonEmpty).map(_.path)
      assert(carrying.size === 1, s"setup: exactly one DV-carrying file, got $carrying")
      val v = TxTable.purgeTombstoned(spark, dir, Some("pbucket"))
      val m4 = TxTable.readManifest(spark, dir, v)
      assert(m4.files.forall(_.dvs.isEmpty), "purge must materialize every DV")
      // finer than compact: every CLEAN file — the same-partition
      // sibling included — carries by reference, and no pre-existing
      // byte on disk changed
      (m3.files.map(_.path).toSet - carrying.head).foreach { p =>
        assert(m4.files.exists(_.path == p), s"clean file must carry: $p")
      }
      assert(!m4.files.exists(_.path == carrying.head),
        "the purged file must leave the manifest")
      val after = dataBytes(dir)
      bytesBefore.foreach { case (p, bs) =>
        assert(after.get(p).contains(bs), s"pre-existing file changed: $p")
      }
      // content identical; metadata stays exact; history names the op;
      // the pre-purge version still time-travels to the deleted row
      assert(rows(TxTable.read(spark, dir)) === expected)
      assert(TxTable.metaCount(spark, dir) === expected.size.toLong)
      assert(TxTable.history(spark, dir).where(col("version") === v)
        .select("op").collect().head.getString(0) === "purge")
      assert(rows(TxTable.read(spark, dir, versionAsOf = Some(1L)))
        .exists(_._1 == 4L))
      // idempotent: a DV-free table purges to a no-op
      assert(TxTable.purgeTombstoned(spark, dir, Some("pbucket")) === v)
    }
  }

  test("updateWhereDv enforces CHECK constraints on the new images") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(8), Some("pbucket"))
      TxTable.addCheckConstraint(spark, dir, "value_nonneg", "value >= 0")
      val e = intercept[RuntimeException] {
        TxTable.updateWhereDv(spark, dir, col("event_id") === 2L,
          Seq("value" -> lit(-5.0)), Some("pbucket"))
      }
      assert(e.getMessage.contains("value_nonneg"), e.getMessage)
      // the failed update published nothing — table unchanged
      assert(rows(TxTable.read(spark, dir)) === rows(snap(8)))
      assert(TxTable.latestVersion(spark, dir) === Some(2L))
    }
  }

  test("DV read composes with COW DML: updateWhere after a DV delete " +
      "sees only visible rows") {
    inDir { dir =>
      TxTable.commitReplace(spark, dir, snap(20), Some("pbucket"))
      TxTable.deleteWhereDv(spark, dir, col("event_id") < 5)
      // the update's predicate scan runs THROUGH the DV anti-join;
      // tombstoned rows must be invisible to it and stay deleted after
      TxTable.updateWhere(spark, dir, col("event_id") < 10,
        Seq("value" -> (col("value") + 1000.0)), partitionCol = Some("pbucket"))
      val expect = snap(20).where(col("event_id") >= 5)
        .withColumn("value",
          when(col("event_id") < 10, col("value") + 1000.0).otherwise(col("value")))
      assert(rows(TxTable.read(spark, dir)) === rows(expect))
      assert(TxTable.metaCount(spark, dir) === 15L)
    }
  }
}

/** The default HDFS-rename/local-hard-link store. */
class TxTableSpec extends TxTableBehaviors {
  override protected def withStore[T](body: => T): T = body

  // concrete-suite-only (too heavy to run once per store): the
  // whole-file mass-delete edge the DvPack aggregator exists for
  test("mass delete: tombstoning >90% of a 3M-row file stays " +
      "bitmap-bounded and exact") {
    graft.QueryUtil.inTempDir("graft_tx") { dir =>
      import spark.implicits._
      val n = 3000000L
      val big = spark.range(0, n).select(
        col("id").as("event_id"),
        (col("id") % 1000).cast("double").as("value"),
        lit(0L).as("pbucket"))
      TxTable.commitReplace(spark, dir, big.coalesce(1), Some("pbucket"))
      // >90% of the file tombstones in ONE DML commit — the shape that
      // used to gather an ~24 MB sorted long array per file; with the
      // partial-mergeable DvPack it accumulates straight into a dense
      // bitmap bounded by span/8 (~375 KB)
      TxTable.deleteWhereDv(spark, dir, col("event_id") % 10 =!= 0L)
      val visible = TxTable.read(spark, dir)
      assert(visible.count() === n / 10)
      assert(visible.agg(org.apache.spark.sql.functions.sum("event_id"))
        .collect().head.getLong(0) === (0L until n by 10L).sum)
      // the sidecar really is ONE dense container of span/8 bytes
      // (dv/ holds one subdirectory per DML commit)
      val dv = spark.read.parquet(s"$dir/dv/*").collect()
      assert(dv.length === 1)
      val bits = dv.head.getAs[Array[Byte]]("bits")
      assert(bits(0) === 0, "mass delete must pick the dense container")
      assert(bits.length <= n / 8 + 16,
        s"dense payload must be span/8-bounded, got ${bits.length} bytes")
      assert(dv.head.getAs[Long]("n") === n - n / 10)
      // metadata-only count stays exact under the DV refs
      assert(TxTable.metaCount(spark, dir) === n / 10)
    }
  }
}

/** The SAME battery on conditional-PUT coordination
  * ([[ObjectStoreLogStore]] over the in-memory CAS double) — the
  * object-store deployment mode, where publish atomicity comes from
  * `If-None-Match: *` instead of rename semantics. */
class TxTableCasStoreSpec extends TxTableBehaviors {
  override protected def withStore[T](body: => T): T =
    TxTable.withLogStore(ObjectStoreLogStore.inMemoryFactory)(body)
}
