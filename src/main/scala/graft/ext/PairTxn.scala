package graft.ext

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** MULTI-TABLE atomic commit over [[TxTable]] — the r14/r15 gap: a
  * fact table and its derived views must move in step, and a crash
  * between their publishes must never strand the group inconsistent.
  * r16 shipped the two-table form; r17 lifts the public API to the N
  * tables the intent record always carried (`Intent.sides` is a Seq —
  * a fact plus TWO derived views is the first real pipeline shape
  * that needs it).
  *
  * Shape: WRITE-AHEAD INTENT + ROLL-FORWARD (the lakehouse analog of
  * primary-lock commit protocols, reduced to the two-phase core):
  *
  *   1. STAGE every side completely — data files written into their
  *      own immutable commit dirs, manifests + cadence checkpoints
  *      RENDERED to bytes ([[TxTable.stageCommit]] is pure). Nothing
  *      is visible yet; a crash here leaves only vacuum-able orphans
  *      ([[TxTable.vacuum]] reclaims them — no manifest ever names
  *      these files, so they age out past the retention window).
  *   2. Publish ONE intent record carrying all staged manifests
  *      verbatim (put-if-absent under `_graft_pairtxn/`). This is the
  *      transaction's durability point: from here the group ALWAYS
  *      completes — any reader/writer/recovery that finds the intent
  *      can finish the publishes by byte replay, no recomputation.
  *   3. Execute: publish each table's manifest in intent order, then
  *      the `.done` marker — each step idempotent (a replayer that
  *      finds the slot occupied verifies the occupant IS the staged
  *      bytes and moves on), so the writer and any number of
  *      concurrent [[recoverPairs]] calls can race harmlessly.
  *
  * Crash matrix (N sides ⇒ N+1 kill windows around the publishes):
  * before the intent → nothing visible, orphan data files; after the
  * intent, before side k → sides 1..k−1 visible alone ONLY until the
  * next [[recoverPairs]] (the documented roll-forward window), which
  * completes every remaining side from the intent's bytes; after the
  * last side → recovery just adds the marker. All-or-nothing is
  * therefore eventual-forward: a PREFIX of the group can lag, it can
  * never diverge — and no non-prefix subset is ever visible.
  *
  * CONTENTION CONTRACT (documented, loud): the coordinator assumes
  * the GROUP WRITER owns all its tables while a commit is in flight —
  * the single-pipeline shape the fact+views use case has. A foreign
  * writer stealing the FIRST side's version slot before anything
  * published aborts the whole transaction cleanly
  * ([[TxTable.CommitConflictException]], `.aborted` marker, nothing
  * visible). A foreign writer stealing a LATER side's slot after an
  * earlier side published is the one genuinely stranded state
  * two-phase commit without locks cannot repair — it fails loudly
  * naming the tables for manual reconciliation instead of silently
  * leaving the group diverged. Specs cover every cell of this matrix
  * at N=2 and N=3.
  *
  * Visibility note: published manifests stay REAL versions (the
  * change feed and plain-file log subscribers need no gate-resolution
  * logic — the TxTable scaladoc's argument against gated visibility
  * holds); what the intent adds is a completion guarantee, not a
  * visibility gate.
  */
object PairTxn {

  /** One side of a multi-table commit — sealed so [[commitAll]]'s
    * staging dispatch is total. */
  sealed trait SideCommit { def dir: String }

  /** Append/replace side: `replace=false` APPENDS `df` as a delta
    * commit (fresh files added, carried entries kept — skipping
    * metadata re-derived per the base manifest's recipe);
    * `replace=true` publishes a full-replace commit recording
    * `statsCols` sketches, [[TxTable.commitReplace]]'s semantics. */
  final case class PairCommit(
      dir: String, df: DataFrame, replace: Boolean = false,
      partitionCol: Option[String] = None,
      statsCols: Seq[String] = Seq.empty) extends SideCommit

  /** Merge-on-read DML side (r18): apply `changes` (an op-column
    * changeset, [[TxTable.mergeChangeSetDv]]'s semantics — updates and
    * deletes become tombstone-sidecar deletion vectors, inserts and
    * update images ride fresh files; ZERO target files rewritten)
    * under the SAME intent as the group's other sides — the
    * fact-at-trickle-upsert-cadence + derived-views pipeline shape.
    * The staged sidecar and data dirs are version-prefixed like every
    * staged commit, so the open-intent sentinel spares them from
    * table-level vacuum and [[vacuumTxns]] reclaims them on abort. A
    * changeset with NO effect still advances the side by an empty
    * delta commit: the group's versions move in step by contract —
    * including a REPLAYED idempotent-writer batch (`txn` = (appId,
    * batchId), [[TxTable]]'s ledger): an at-least-once producer
    * (foreachBatch crash-replay) re-applies nothing, but the group
    * still moves together. */
  final case class MergeDvCommit(
      dir: String, changes: DataFrame, keyCol: String, opCol: String,
      partitionCol: String,
      txn: Option[(String, Long)] = None,
      // distinct partition values the caller already collected from
      // the SAME materialized changeset (see TxTable
      // .withMaterializedChanges) — spares the staged merge its own
      // collect; purely a pass-count optimization, never semantic
      touchedHint: Option[Seq[Any]] = None) extends SideCommit

  private final case class StagedSide(
      dir: String, version: Long, manifest: String, checkpoint: Option[String])

  private final case class Intent(id: String, sides: Seq[StagedSide])

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def txnDir(coordRoot: Path) = new Path(coordRoot, "_graft_pairtxn")
  private def intentPath(coordRoot: Path, id: String) =
    new Path(txnDir(coordRoot), s"$id.json")
  private def donePath(coordRoot: Path, id: String) =
    new Path(txnDir(coordRoot), s"$id.done")
  private def abortPath(coordRoot: Path, id: String) =
    new Path(txnDir(coordRoot), s"$id.aborted")

  /** Resolution markers carry the wall-clock of the moment the verdict
    * was recorded IN THEIR BYTES — [[vacuumTxns]]'s retention ages a
    * txn by this stamp, not the marker file's mtime (object stores do
    * not all preserve mtimes, and a copied/touched marker must not age
    * a just-aborted txn instantly). Legacy empty markers fall back to
    * mtime. */
  private def markerStamp(): String = System.currentTimeMillis().toString

  /** Open-intent sentinel under a TABLE root (`_graft_intent/v{N}`):
    * written at stage time BEFORE any data file, deleted after the
    * side's manifest publishes. While a sentinel names a txn that is
    * still open (intent record present, no resolution marker),
    * [[TxTable.vacuum]] spares that version's staged `data/v{N}-*`
    * dirs REGARDLESS of age — a table-level vacuum cannot otherwise
    * see the coordinator's intent log, and an intent left open past
    * the vacuum retention would have its staged files reclaimed and
    * then roll-forward would publish a manifest naming deleted files
    * (the r17 ADVICE exposure). Content is line-oriented:
    * `txn\n<coordDir>\n<id>\n<stagedAtMs>`. */
  private[ext] def sentinelPath(tableRoot: Path, version: Long) =
    new Path(new Path(tableRoot, TxTable.IntentSentinelDir), s"v$version")

  private def renderIntent(i: Intent): String = {
    val n = mapper.createObjectNode()
    n.put("id", i.id)
    val arr = n.putArray("tables")
    i.sides.foreach { s =>
      val t = arr.addObject()
      t.put("dir", s.dir)
      t.put("version", s.version)
      t.put("manifest", s.manifest)
      s.checkpoint.foreach(c => t.put("checkpoint", c))
    }
    mapper.writeValueAsString(n)
  }

  private def parseIntent(text: String): Intent = {
    val n = mapper.readTree(text)
    val arr = n.get("tables")
    Intent(n.get("id").asText(),
      (0 until arr.size()).map { i =>
        val t = arr.get(i)
        StagedSide(t.get("dir").asText(), t.get("version").asLong(),
          t.get("manifest").asText(),
          Option(t.get("checkpoint")).map(_.asText()))
      })
  }

  /** Stage one side: write the data files, derive per-file metadata,
    * enforce constraints, render the manifest — NO publish. The
    * version's open-intent sentinel is stamped BEFORE the first data
    * byte, so there is no window in which [[TxTable.vacuum]] could
    * mistake this txn's staged files for ordinary aged orphans. */
  private def stage(
      spark: SparkSession, c: SideCommit,
      coordRoot: Path, id: String): StagedSide = {
    val b = TxTable.prologue(spark, c.dir, "mergeChangeSetDv",
      init = c.isInstanceOf[PairCommit])
    // the sentinel lands BEFORE the first data byte (no window for
    // vacuum to mistake this txn's staged files for aged orphans);
    // tolerate an existing one (an OCC retry restages the same
    // version slot): the protection logic only needs SOME open txn's
    // claim on the slot, and a stale claim resolves as stale
    b.store.delete(sentinelPath(b.root, b.m.version + 1))
    b.store.writeIfAbsent(sentinelPath(b.root, b.m.version + 1),
      s"txn\n$coordRoot\n$id\n${System.currentTimeMillis()}")
    val staged = c match {
      case p: PairCommit =>
        val fresh = TxTable.writeFresh(spark, b, p.df, p.partitionCol,
          Option.when(p.replace)(TxTable.Skipping(p.statsCols)))
        TxTable.stageCommit(b.m, if (p.replace) fresh else b.m.files ++ fresh,
          Some(p.df.schema.json), if (p.replace) "pairreplace" else "pairappend",
          full = p.replace, extraProps =
            if (p.replace && p.statsCols.nonEmpty) Map(TxTable.NdvLaneProp -> "xx")
            else Map.empty[String, String])
      case mdv: MergeDvCommit =>
        TxTable.stageMergeDv(spark, b, mdv.changes, mdv.keyCol,
          mdv.opCol, mdv.partitionCol, txn = mdv.txn,
          touchedHint = mdv.touchedHint).getOrElse {
          // no-op changeset (nothing tombstoned/inserted, or an
          // already-recorded idempotent-writer replay): the group's
          // versions still move in step — stage an empty delta
          // carrying the base state forward
          TxTable.stageCommit(b.m, b.m.files, newSchema = None,
            op = "merge-cs-dv", full = false)
        }
    }
    StagedSide(b.root.toString, staged.version, staged.manifest, staged.checkpoint)
  }

  /** Idempotent executor shared by the commit path and recovery: every
    * step is publish-or-verify, so any number of replayers converge on
    * the same log bytes. Throws [[TxTable.CommitConflictException]]
    * when a foreign occupant squats the FIRST side's slot (clean
    * abort, marker written, nothing of this txn visible); fails loudly
    * when a later side's slot is foreign while earlier sides already
    * published (the stranded cell of the contention matrix). */
  private def execute(
      spark: SparkSession, coordStore: LogStore, coordRoot: Path,
      intent: Intent, owner: Boolean): Unit = {
    intent.sides.zipWithIndex.foreach { case (side, idx) =>
      val (store, root) = TxTable.storeOf(spark, side.dir)
      val mp = TxTable.manifestPath(root, side.version)
      if (!store.writeIfAbsent(mp, side.manifest)) {
        val occupant = try store.read(mp) catch { case _: Exception => "" }
        if (occupant != side.manifest) {
          if (idx == 0) {
            // nothing of this txn is visible yet: abort cleanly. The
            // OWNER throws so its OCC retry restages against the new
            // base; a RECOVERER just records the abort — the txn is
            // dead, which is a completed recovery, not its failure.
            coordStore.writeIfAbsent(
              abortPath(coordRoot, intent.id), markerStamp())
            if (owner) throw new TxTable.CommitConflictException(
              s"txn ${intent.id}: version ${side.version} of " +
                s"${side.dir} taken by a concurrent writer — transaction " +
                "aborted before publishing anything; retry against the new base")
            return
          } else sys.error(
            s"txn ${intent.id} STRANDED: the first $idx of " +
              s"${intent.sides.size} sides (${
                intent.sides.take(idx).map(_.dir).mkString(", ")
              }) published, but version ${side.version} of " +
              s"${side.dir} was taken by a foreign writer. The multi-table " +
              "commit contract requires the group writer to own all its " +
              "tables while a transaction is in flight; reconcile the " +
              "remaining tables by hand (re-derive them from the published " +
              s"ones), then resolveStranded(\"${intent.id}\", ...) to " +
              "record the outcome")
        }
      }
      side.checkpoint.foreach(c =>
        store.writeIfAbsent(TxTable.checkpointPath(root, side.version), c))
      // the side is durably published: its open-intent sentinel has
      // done its job (idempotent — a recoverer replaying a published
      // side deletes an already-absent path)
      store.delete(sentinelPath(root, side.version))
    }
    coordStore.writeIfAbsent(donePath(coordRoot, intent.id), markerStamp())
    ()
  }

  /** Commit all of `commits` atomically-in-effect (see the object
    * doc's crash matrix): returns the version published on each table,
    * in input order. `coordDir` holds the intent log — any durable
    * location all writers and recovery agree on (conventionally the
    * pipeline's own directory, beside the tables). Open intents found
    * under it are ROLLED FORWARD first, so a previous crash can never
    * make this writer stage against a half-committed base. */
  def commitAll(
      spark: SparkSession, coordDir: String,
      commits: Seq[SideCommit]): Seq[Long] = {
    require(commits.size >= 2,
      s"commitAll coordinates at least two tables (got ${commits.size}); " +
        "a single table is one ordinary TxTable commit")
    // compare NORMALIZED roots, not raw strings: "/x/t" and "/x/t/"
    // alias one table, and a raw compare would let both sides stage
    // the same version slot — the earlier side publishes, the later
    // one then dies with a misleading STRANDED error blaming a
    // foreign writer
    val roots = commits.map(c => TxTable.fsOf(spark, c.dir)._2)
    require(roots.distinct.size == roots.size,
      "commitAll coordinates DISTINCT tables; same-table multi-writes " +
        "are one ordinary commit")
    recoverPairs(spark, coordDir)
    val (coordStore, coordRoot) = TxTable.storeOf(spark, coordDir)
    // the id exists BEFORE staging so every side's open-intent
    // sentinel can name it from the first staged byte
    val id = java.util.UUID.randomUUID().toString
    val staged = commits.map(stage(spark, _, coordRoot, id))
    val intent = Intent(id, staged)
    // durability point: from here the group always completes
    require(coordStore.writeIfAbsent(
      intentPath(coordRoot, id), renderIntent(intent)),
      s"intent $id collided — UUIDs must not collide")
    execute(spark, coordStore, coordRoot, intent, owner = true)
    staged.map(_.version)
  }

  /** Two-table convenience over [[commitAll]] — the fact+summary shape
    * most pipelines start with. */
  def commitPair(
      spark: SparkSession, coordDir: String,
      a: PairCommit, b: PairCommit): (Long, Long) = {
    val vs = commitAll(spark, coordDir, Seq(a, b))
    (vs(0), vs(1))
  }

  /** Roll forward every OPEN intent under `coordDir` (no `.done`, no
    * `.aborted`); returns how many were resolved (completed or
    * recorded aborted). A pipeline holds at most ONE open intent —
    * [[commitAll]] only returns after its marker lands and rolls
    * forward any predecessor before staging — so order is
    * deterministic-but-immaterial. Safe
    * to call concurrently with writers and other recoverers — every
    * step is publish-or-verify byte replay. */
  def recoverPairs(spark: SparkSession, coordDir: String): Int = {
    val (coordStore, coordRoot) = TxTable.storeOf(spark, coordDir)
    val names = coordStore.list(txnDir(coordRoot))
    val done = names.filter(_.endsWith(".done")).map(_.stripSuffix(".done")).toSet
    val aborted =
      names.filter(_.endsWith(".aborted")).map(_.stripSuffix(".aborted")).toSet
    val open = names.filter(_.endsWith(".json"))
      .map(_.stripSuffix(".json"))
      .filterNot(id => done(id) || aborted(id))
      .sorted
    open.foreach { id =>
      val intent = parseIntent(coordStore.read(intentPath(coordRoot, id)))
      execute(spark, coordStore, coordRoot, intent, owner = false)
    }
    open.size
  }

  /** Record the operator's verdict on a STRANDED transaction — the API
    * face of the contention contract's manual-reconciliation step (the
    * stranded error names the id and points here). A stranded txn is
    * an OPEN intent whose roll-forward keeps failing because a foreign
    * writer took a later side's slot after an earlier side published;
    * no automatic step is sound, so the operator re-derives the
    * un-published tables by hand and then either:
    *
    *   - `abort = false` (DONE): asserts the group state is reconciled
    *     — the intent stops replaying, its record retires on the next
    *     [[vacuumTxns]] sweep;
    *   - `abort = true` (ABORTED): asserts the txn's effects are
    *     rolled back/superseded — additionally, [[vacuumTxns]] then
    *     reclaims the staged dirs of every side whose manifest was
    *     NEVER published (the per-side published check keeps the
    *     sides that DID land untouched — aborting a stranded txn
    *     never deletes live data).
    *
    * Refuses an unknown id and an already-resolved txn — the verdict
    * is recorded at most once. */
  def resolveStranded(
      spark: SparkSession, coordDir: String, id: String,
      abort: Boolean): Unit = {
    val (coordStore, coordRoot) = TxTable.storeOf(spark, coordDir)
    val names = coordStore.list(txnDir(coordRoot))
    require(names.contains(s"$id.json"),
      s"no intent '$id' under ${txnDir(coordRoot)}")
    require(!names.contains(s"$id.done") && !names.contains(s"$id.aborted"),
      s"txn '$id' is already resolved")
    coordStore.writeIfAbsent(
      if (abort) abortPath(coordRoot, id) else donePath(coordRoot, id),
      markerStamp())
    ()
  }

  /** Reclaim what RESOLVED transactions left behind — the coordinator-
    * side face of [[TxTable.vacuum]]'s orphan discipline:
    *
    *   - an `.aborted` intent's staged commit dirs hold data files no
    *     manifest will ever name — a contention abort happens strictly
    *     before the first publish (NO side visible), and an operator
    *     abort of a STRANDED txn ([[resolveStranded]]) may follow a
    *     published prefix, so each side's staged dir is deleted only
    *     after verifying its manifest slot is NOT occupied by this
    *     txn's bytes (published sides stay untouched);
    *   - `.done` and `.aborted` intent RECORDS older than the window
    *     are retired (the done txn's bytes live on as real published
    *     manifests; the record is replay bookkeeping).
    *
    * OPEN intents are never touched — not their records, not their
    * staged files: an open intent is a live transaction that
    * [[recoverPairs]] will complete. Staged dirs from a crash BEFORE
    * the intent belong to no intent at all; those are exactly the
    * unreferenced-parquet orphans [[TxTable.vacuum]] reclaims on each
    * table, behind the same age guard.
    *
    * `retentionMs` gates on the intent record's resolution age — the
    * wall-clock STAMPED INTO the marker's bytes at resolution time
    * (mtime is only the legacy fallback: object stores do not all
    * preserve mtimes, and a touched/copied marker must not age a
    * just-aborted txn instantly): a just-aborted txn's OWNER may
    * still be inspecting its staged state. Pass 0 only when no writer
    * can be active (tests, decommission). Returns the number of
    * staged data files deleted.
    *
    * "Published" is decided CONSERVATIVELY (the r17 ADVICE fix): a
    * side is treated as published unless the evidence proves
    * otherwise — a readable manifest slot holding FOREIGN bytes, or
    * an unreadable slot on a table whose latest version never reached
    * it (versions are dense, so that slot was never filled). An
    * unreadable slot AT OR BELOW the table's latest version means
    * version retention retired a once-published manifest — deleting
    * its dirs on a failed read was the data-loss hole: later append
    * commits may still carry those files live. Belt and braces on top:
    * a dir the table's CURRENT manifest references is never deleted,
    * whatever the slot says. */
  def vacuumTxns(
      spark: SparkSession, coordDir: String,
      retentionMs: Long = 7L * 24 * 3600 * 1000): Int = {
    val (coordStore, coordRoot) = TxTable.storeOf(spark, coordDir)
    val (coordFs, _) = TxTable.fsOf(spark, coordDir)
    val names = coordStore.list(txnDir(coordRoot))
    val done = names.filter(_.endsWith(".done")).map(_.stripSuffix(".done")).toSet
    val aborted =
      names.filter(_.endsWith(".aborted")).map(_.stripSuffix(".aborted")).toSet
    val cutoff = System.currentTimeMillis() - retentionMs
    def resolvedBefore(marker: Path): Boolean = {
      val stamped =
        try coordStore.read(marker).trim.toLongOption
        catch { case _: Exception => None }
      val at = stamped.orElse(
        try Some(coordFs.getFileStatus(marker).getModificationTime)
        catch { case _: Exception => None })
      at.exists(_ <= cutoff)
    }
    // a marker whose intent record is already gone is the crash window
    // between the sweep's two deletes: the dirs were handled before the
    // record was deleted, so the dangling marker just retires — without
    // this, one crashed sweep wedged every subsequent sweep on the
    // record read (the r17 ADVICE hole)
    def readIntent(id: String): Option[Intent] =
      (try Some(coordStore.read(intentPath(coordRoot, id)))
       catch { case _: Exception => None }).map(parseIntent)
    var n = 0
    aborted.toSeq.sorted.foreach { id =>
      val marker = abortPath(coordRoot, id)
      if (resolvedBefore(marker)) {
        readIntent(id) match {
          case None => coordStore.delete(marker)
          case Some(intent) =>
            intent.sides.foreach { side =>
              val (fs, root) = TxTable.fsOf(spark, side.dir)
              val (store, _) = TxTable.storeOf(spark, side.dir)
              val mp = TxTable.manifestPath(root, side.version)
              val latest = TxTable.latestVersion(spark, side.dir)
              val published =
                try store.read(mp) == side.manifest
                catch { case _: Exception =>
                  // unreadable slot: retired-after-publish unless the
                  // table provably never reached this version
                  latest.exists(_ >= side.version)
                }
              if (!published) {
                // the staged dirs are exactly the adds of the never-
                // published manifest (an append's carried entries live in
                // OTHER commits' dirs and stay untouched). Belt and braces:
                // only this txn's OWN version-named dirs qualify — an add
                // that modifies an entry in an older commit's dir (the DV
                // stacking shape, whose sidecars ride [[DvSide]]'s own
                // staging) can never drag that dir into the sweep — and a
                // dir the CURRENT manifest still references is untouchable
                // whatever the slot evidence said.
                val (currentLive, currentLiveDv): (Set[String], Set[String]) =
                  latest match {
                    case Some(lv) =>
                      val fs0 = TxTable.readManifest(spark, side.dir, lv).files
                      (fs0.map(_.path.split('/').take(2).mkString("/")).toSet,
                        fs0.flatMap(_.dvs.map(_.dir)).toSet)
                    case None => (Set.empty, Set.empty)
                  }
                val parsed = TxTable.ManifestJson.parse(side.manifest, s"intent $id")
                parsed.adds.map(_.path.split('/').take(2).mkString("/"))
                  .distinct
                  .filter(_.startsWith(s"data/v${side.version}-"))
                  .filterNot(currentLive.contains)
                  .foreach { rel =>
                    val dir = new Path(root, rel)
                    if (fs.exists(dir)) {
                      val files = fs.listFiles(dir, true)
                      var k = 0
                      while (files.hasNext) {
                        if (files.next().getPath.getName.endsWith(".parquet")) k += 1
                      }
                      if (fs.delete(dir, true)) n += k
                    }
                  }
                // a staged MoR side ([[MergeDvCommit]]) also wrote its
                // tombstone sidecar — same version-prefix belt, same
                // never-published guarantee (a published manifest's DV
                // refs are in the CURRENT live set's entries, and this
                // branch only runs for a never-published side)
                parsed.adds.flatMap(_.dvs.map(_.dir)).distinct
                  .filter(_.startsWith(s"dv/v${side.version}-"))
                  .filterNot(currentLiveDv.contains)
                  .foreach { rel =>
                    val dir = new Path(root, rel)
                    if (fs.exists(dir)) {
                      val files = fs.listFiles(dir, true)
                      var k = 0
                      while (files.hasNext) {
                        if (files.next().getPath.getName.endsWith(".parquet")) k += 1
                      }
                      if (fs.delete(dir, true)) n += k
                    }
                  }
              }
              // the txn is resolved: its open-intent claim on the slot
              // is over either way
              store.delete(sentinelPath(root, side.version))
            }
            coordStore.delete(intentPath(coordRoot, id))
            coordStore.delete(marker)
        }
      }
    }
    done.toSeq.sorted.foreach { id =>
      val marker = donePath(coordRoot, id)
      if (resolvedBefore(marker)) {
        // a done txn's bytes live on as real published manifests; only
        // the replay bookkeeping retires. Sentinels of sides published
        // by roll-forward are already gone; a hand-reconciled stranded
        // txn marked done may have left claims on never-published
        // slots — release them so table vacuum can age the debris out.
        readIntent(id).foreach(_.sides.foreach { side =>
          val (_, root) = TxTable.fsOf(spark, side.dir)
          val (store, _) = TxTable.storeOf(spark, side.dir)
          store.delete(sentinelPath(root, side.version))
        })
        coordStore.delete(intentPath(coordRoot, id))
        coordStore.delete(marker)
      }
    }
    n
  }
}
