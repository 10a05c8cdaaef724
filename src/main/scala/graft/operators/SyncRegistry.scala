package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.model.GraftException
import graft.streaming.ChangeStream
import graft.table.{CommitLog, KeyedTable, MaintenanceLog, TableProperties}

/** Hands-off derived-index consistency: a REGISTRY of a corpus table's
  * standing indexes (`index.sync.<name>` table properties), applied by an
  * afterPublish maintenance hook — so a corpus delete/upsert PROPAGATES to
  * every registered dedup/ANN/PQ/text index with nobody scheduling per-index
  * [[IndexSync]] calls. This closes the gap T46 left open: the sync
  * MECHANISM existed, but each index needed its own hand-wired call with
  * its own checkpoint, which is exactly the operator-babysitting failure
  * the other policy hooks (`index.auto`, `compact.auto`, `campaign.reclaim`)
  * were built to remove — a takedown reached only the indexes someone
  * remembered. (Reference posture: app.py's background-task automation —
  * maintenance rides write traffic, it is not a human's job.)
  *
  * ONE checkpointed [[ChangeStream.pull]] per corpus publish feeds EVERY
  * registered index (name-ordered applies): N indexes no longer read the
  * same CDC interval N times through N checkpoints, and they cannot drift
  * to different watermarks — an apply failure on any index leaves the
  * shared watermark untouched, so the next publish re-delivers the same
  * interval to all of them (keyed-idempotent applies converge; see
  * [[IndexSync]]'s ordering note). The checkpoint lives beside the commit
  * log (`.graft/indexsync.ckpt`) and is IDENTITY-STAMPED to the corpus, so
  * pointing a copied/mispointed checkpoint at a different corpus fails
  * loudly instead of silently skipping pulled intervals.
  *
  * Registration: [[register]] stores the spec and immediately CATCHES the
  * index UP — over `(basis, tip]` when `basis` names the corpus instant
  * the index was built from (recommended: an index built from an older
  * snapshot joins consistent even when the shared watermark already
  * advanced past its build point), or over `(pre-registration watermark,
  * tip]` without one, which covers any publish racing the registration
  * itself (over-delivery is idempotent either way). Without a basis the
  * index must have been built from the corpus at-or-after the watermark —
  * pass the build instant whenever in doubt.
  *
  * Cost per publish: one tiny properties read when nothing is registered;
  * otherwise one partition-pruned CDC read (O(changes), never O(table))
  * plus per-index O(|deletes|) tombstones and O(|upserts|) encode/assign
  * work — appends go against each index's FROZEN trained state, never a
  * retrain. Failure posture: BEST-EFFORT like the other hooks — a sync
  * failure never fails the data publish that already landed; it journals
  * to `.maintenance` and the untouched watermark retries the interval on
  * the next publish (a lagging index serves a STALE-but-consistent view,
  * the same correctness class as a stale stats sidecar). The ThreadLocal
  * guard stops the apply's own index-table commits from cascading — a
  * registered index that is itself a corpus with registered indexes does
  * NOT sync transitively inside one hook; chain depth > 1 needs its own
  * publishes or an explicit [[syncNow]].
  */
object SyncRegistry {

  /** What to maintain: one standing index, with the parameters its apply
    * needs (the corpus-side column names and the index's frozen-model
    * shape). Serialized as compact JSON into the `index.sync.<name>`
    * property.
    */
  sealed trait Spec {
    def indexPath: String
    def kind: String
    /** The describe rendering with `p` as the index path — one template
      * serving both the canonical [[describe]] and the pre-normalization
      * [[describeLegacy]] adoption key.
      */
    protected def describeWith(p: String): String
    /** `indexPath` normalized ([[identityOf]]'s rule) — `describe` embeds it
      * so checkpoint identities built from a describe agree across slash /
      * relative respellings of the same index path.
      */
    protected def normPath: String = new Path(indexPath).toString
    def describe: String = describeWith(normPath)
    /** The superseded raw-path rendering: checkpoints identity-stamped
      * before the normalization adopt the canonical form on their next pull
      * instead of refusing ([[graft.streaming.ChangeStream]]'s legacy set).
      */
    private[operators] def describeLegacy: String = describeWith(indexPath)
  }
  final case class DedupSpec(
      indexPath: String, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16) extends Spec {
    def kind = "dedup"
    protected def describeWith(p: String) =
      s"dedup $p id=$idCol text=$textCol shingleN=$shingleN numHashes=$numHashes"
  }
  final case class AnnSpec(
      indexPath: String, idCol: String = "vec_id",
      vecCol: String = "embedding") extends Spec {
    def kind = "ann"
    protected def describeWith(p: String) = s"ann $p id=$idCol vec=$vecCol"
  }
  /** No (dim, m) here ON PURPOSE: a reshaping `PqIndex.retrain` (m /
    * codebookSize may change) would silently strand a configured copy, and
    * the sync would then encode appends under the WRONG geometry — so the
    * apply derives (dim, m) from the stored codebooks every interval
    * ([[PqIndex.storedGeometry]], one bounded agg).
    */
  final case class PqSpec(
      indexPath: String, idCol: String = "vec_id",
      vecCol: String = "embedding") extends Spec {
    def kind = "pq"
    protected def describeWith(p: String) = s"pq $p id=$idCol vec=$vecCol"
  }
  final case class TextSpec(
      indexPath: String, idCol: String, textCol: String) extends Spec {
    def kind = "text"
    protected def describeWith(p: String) = s"text $p id=$idCol text=$textCol"
  }

  private def toJson(spec: Spec): String = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val n = mapper.createObjectNode()
    n.put("kind", spec.kind)
    n.put("path", spec.indexPath)
    spec match {
      case d: DedupSpec =>
        n.put("id", d.idCol); n.put("text", d.textCol)
        n.put("shingleN", d.shingleN); n.put("numHashes", d.numHashes)
      case a: AnnSpec =>
        n.put("id", a.idCol); n.put("vec", a.vecCol)
      case p: PqSpec =>
        n.put("id", p.idCol); n.put("vec", p.vecCol)
      case t: TextSpec =>
        n.put("id", t.idCol); n.put("text", t.textCol)
    }
    mapper.writeValueAsString(n)
  }

  private def fromJson(name: String, json: String): Spec = {
    val n = try new com.fasterxml.jackson.databind.ObjectMapper().readTree(json)
      catch {
        case e: Exception => throw GraftException.config(
          s"index.sync.$name is not a valid registry spec: ${e.getMessage}")
      }
    def str(f: String): String = {
      val v = n.get(f)
      if (v == null) throw GraftException.config(
        s"index.sync.$name is missing the '$f' field: $json")
      v.asText()
    }
    // int fields default like the case class (absent ≠ malformed — a
    // hand-written spec may omit them); a bare n.get(...).asInt would NPE
    def num(f: String, d: Int): Int =
      Option(n.get(f)).map(_.asInt(d)).getOrElse(d)
    str("kind") match {
      case "dedup" => DedupSpec(str("path"), str("id"), str("text"),
        num("shingleN", 3), num("numHashes", 16))
      case "ann" => AnnSpec(str("path"), str("id"), str("vec"))
      // older specs may carry dim/m fields — ignored: the apply derives
      // the geometry from the stored codebooks (see PqSpec's doc)
      case "pq" => PqSpec(str("path"), str("id"), str("vec"))
      case "text" => TextSpec(str("path"), str("id"), str("text"))
      case k => throw GraftException.config(
        s"index.sync.$name has unknown index kind '$k' (dedup | ann | pq | text).")
    }
  }

  /** The shared checkpoint: one watermark for the WHOLE registry, stamped
    * to the corpus. Beside the commit log like every other sidecar.
    */
  def checkpointDir(corpusPath: String): String =
    new Path(CommitLog.logDir(corpusPath), "indexsync.ckpt").toString

  // Path-normalized so slash variants of the same table spelling agree —
  // the checkpoint dir resolves to one location for all of them, and a
  // raw-string identity would refuse the pull for every spelling but one
  private def identityOf(corpusPath: String): String =
    s"indexsync.registry ${new Path(corpusPath).toString}"

  /** The pre-normalization raw-path rendering — the adoption key for
    * checkpoints stamped before round 14's path normalization.
    */
  private def identityLegacyOf(corpusPath: String): Seq[String] =
    Seq(s"indexsync.registry $corpusPath")

  /** Register `spec` under `name` and make the index CONSISTENT with the
    * registry's watermark: ensures the shared checkpoint exists (initialized
    * at the corpus tip — never consuming an interval other registered
    * indexes still need), then catches this index up over `(basis, tip]`
    * (`basis` = the corpus instant the index was built from — recommended)
    * or, without a basis, over `(pre-registration watermark, tip]` — so a
    * publish RACING the registration is covered either way (it lands above
    * the pinned point; over-application of an interval the hook also
    * delivers is idempotent). Any failure after the spec lands unregisters
    * before rethrowing: a registered-but-gapped index would silently miss
    * its interval forever (later syncs apply only NEW intervals).
    * Re-registering a name overwrites its spec.
    */
  def register(
      spark: SparkSession, corpusPath: String, name: String, spec: Spec,
      basis: Option[String] = None): Unit = {
    require(name.matches("[A-Za-z0-9_-]+"),
      s"registry name must be [A-Za-z0-9_-]+, got '$name'")
    require(new Path(spec.indexPath).toString != new Path(corpusPath).toString,
      "an index cannot be registered on itself as its own corpus")
    CommitLog.requireState(spark, spec.indexPath) // a real index table
    // checkpoint FIRST (pins the watermark and validates identity before
    // the spec becomes visible), spec SECOND (a publish racing the
    // catch-up then syncs the new index too — idempotent), catch-up LAST
    ChangeStream.initialize(spark, corpusPath, checkpointDir(corpusPath),
      identity = Some(identityOf(corpusPath)),
      legacyIdentities = identityLegacyOf(corpusPath))
    val w0 = ChangeStream.readWatermark(
      CommitLog.fs(spark, corpusPath), checkpointDir(corpusPath))
    // capture the prior spec BEFORE overwriting: a failed catch-up of a
    // REPLACEMENT spec must restore the old, still-consistent registration
    // (other indexes keep advancing the shared watermark, so unregistering
    // the name would open a permanent silent gap for a later re-register)
    val prior = TableProperties.get(spark, corpusPath)
      .get(TableProperties.IndexSyncPrefix + name)
    TableProperties.set(spark, corpusPath,
      Map(TableProperties.IndexSyncPrefix + name -> toJson(spec)))
    try {
      // without a basis, catch up from the PRE-REGISTRATION watermark: a
      // publish that raced in while the spec was landing is above it and
      // would otherwise be the new index's permanent silent gap
      basis.orElse(w0).foreach { b =>
        val changes = KeyedTable.readChanges(spark, corpusPath, b)
        if (!changes.isEmpty)
          IndexSync.applyPersisted(spark, spec.indexPath, changes, spec)
      }
    } catch {
      case e: Exception =>
        // a failed catch-up must not leave a registered-but-gapped index:
        // later syncs apply only NEW intervals, so the uncaught interval
        // would stay silently missing forever. First registration of the
        // name: unregister and fail loudly — the operator re-registers
        // (catch-up is idempotent) or rebuilds. RE-registration: RESTORE
        // the prior spec instead — the old registration was consistent and
        // keeps following publishes; dropping it would strand the old index
        // behind the still-advancing shared watermark.
        try prior match {
          case Some(p) => TableProperties.set(spark, corpusPath,
            Map(TableProperties.IndexSyncPrefix + name -> p))
          case None => unregister(spark, corpusPath, name)
        } catch { case _: Exception => () }
        throw e
    }
  }

  /** Drop `name` from the registry (its index table is left untouched). */
  def unregister(spark: SparkSession, corpusPath: String, name: String): Unit =
    TableProperties.unset(spark, corpusPath,
      Seq(TableProperties.IndexSyncPrefix + name))

  /** The registered indexes, name-sorted — the order applies run in. */
  def registered(spark: SparkSession, corpusPath: String): Seq[(String, Spec)] =
    parseRegs(TableProperties.get(spark, corpusPath))

  private def parseRegs(props: Map[String, String]): Seq[(String, Spec)] =
    props.toSeq
      .filter(_._1.startsWith(TableProperties.IndexSyncPrefix))
      .sortBy(_._1)
      .map { case (k, v) =>
        val name = k.stripPrefix(TableProperties.IndexSyncPrefix)
        name -> fromJson(name, v)
      }

  /** Pull the corpus's next CDC interval ONCE and apply it to every
    * registered index in name order. Returns the applied interval and the
    * index names it reached, or None when the corpus has no new commits
    * (or nothing is registered). Any index's failure aborts the pull with
    * the watermark untouched — the interval re-delivers to ALL indexes on
    * the next call, and the keyed-idempotent applies converge.
    */
  def syncNow(
      spark: SparkSession,
      corpusPath: String): Option[(ChangeStream.Pull, Seq[String])] =
    syncNow(spark, corpusPath, registered(spark, corpusPath))

  private def syncNow(
      spark: SparkSession, corpusPath: String,
      regs: Seq[(String, Spec)]): Option[(ChangeStream.Pull, Seq[String])] = {
    if (regs.isEmpty) return None
    ChangeStream.pull(spark, corpusPath, checkpointDir(corpusPath),
      identity = Some(identityOf(corpusPath)),
      legacyIdentities = identityLegacyOf(corpusPath)) { (changes, _) =>
      // materialize the interval ONCE: each apply runs several actions
      // (split isEmpty probes + the writes) over it, and N indexes multiply
      // that — without the persist the "one CDC read per publish" the class
      // doc promises re-executes ~4N times from storage
      val c = changes.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try regs.foreach { case (_, spec) =>
        IndexSync.applyInterval(spark, spec.indexPath, c, spec)
      } finally c.unpersist()
    }.map(p => (p, regs.map(_._1)))
  }

  /** Explicit ordered walk for REGISTRY CHAINS (depth > 1): breadth-first
    * over this corpus's registered indexes, pulling each level's shared
    * checkpoint once — level 0 syncs `corpusPath`'s registry, level 1 the
    * registries OF those indexes (a registered index that is itself a
    * corpus with its own registered indexes), and so on. The afterPublish
    * hook deliberately stops at depth 1 (the cascade guard: one data
    * publish must not fan into an unbounded transitive walk inside a
    * best-effort hook); a pipeline that stacks indexes schedules THIS walk
    * instead — one call per corpus publish (or per drain cycle) reaches
    * every level, parents before children, so an interval flows down the
    * chain within one walk. Cycle-safe: each table's registry is pulled at
    * most once per walk (path-normalized visited set), so a mutual A→B→A
    * registration converges instead of looping. Returns the per-table
    * results in walk order (None = that table had nothing new or nothing
    * registered).
    *
    * `maxDepth` is the deepest DESCENDANT LEVEL pulled, with the root at
    * level 0 — so a walk visits up to `maxDepth + 1` levels total (the
    * default 8 means the root plus chains up to 8 indexes deep, far beyond
    * any real stack; the visited set, not this bound, is what terminates
    * cyclic registrations).
    */
  def syncChain(
      spark: SparkSession, corpusPath: String,
      maxDepth: Int = 8): Seq[(String, Option[(ChangeStream.Pull, Seq[String])])] = {
    val visited = scala.collection.mutable.Set.empty[String]
    val out = Seq.newBuilder[(String, Option[(ChangeStream.Pull, Seq[String])])]
    var level = Seq(new Path(corpusPath).toString)
    var depth = 0
    while (level.nonEmpty && depth <= maxDepth) {
      val next = Seq.newBuilder[String]
      level.foreach { p =>
        if (visited.add(p)) {
          val regs = registered(spark, p)
          out += p -> syncNow(spark, p, regs)
          next ++= regs.map(r => new Path(r._2.indexPath).toString)
        }
      }
      level = next.result()
      depth += 1
    }
    out.result()
  }

  private val inSync = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = java.lang.Boolean.FALSE
  }

  /** The maintenance hook ([[graft.table.CommitLog.write]]): after a data
    * publish on a corpus with a non-empty registry, run [[syncNow]] —
    * best-effort, journaled, recursion-guarded (the applies publish commits
    * on the INDEX tables; their hooks run normally — compact.auto keeps a
    * busy index folded — but do not cascade another registry sync inside
    * this one).
    */
  def afterPublish(
      spark: SparkSession, tablePath: String, operation: String,
      props: Map[String, String]): Unit = {
    // a publish that changes no logical rows has an empty CDC interval:
    // pulling it would spend a CDC read to deliver nothing
    if (inSync.get() || CommitLog.RowNeutralOps(operation)) return
    if (!props.keys.exists(_.startsWith(TableProperties.IndexSyncPrefix))) return
    inSync.set(true)
    try {
      // parse from the snapshot CommitLog already read — no second
      // properties round-trip on the per-publish path
      syncNow(spark, tablePath, parseRegs(props)) match {
        case Some((p, names)) =>
          MaintenanceLog.record(spark, tablePath, "index.sync", operation, "ok",
            s"interval=(${p.sinceExclusive},${p.upToInclusive}] indexes=[${names.mkString(",")}]")
        case None => () // quiet corpus: nothing new since the watermark
      }
    } catch {
      case e: Exception =>
        // a lagging index is stale-but-consistent (the watermark did not
        // advance); the next data publish retries the same interval
        System.err.println(
          s"[graft] index.sync after $operation at $tablePath skipped: ${e.getMessage}")
        MaintenanceLog.record(spark, tablePath, "index.sync", operation,
          "skipped", String.valueOf(e.getMessage))
    } finally inSync.set(false)
  }
}
