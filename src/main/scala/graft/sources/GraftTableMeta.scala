package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}

/** Table-level properties stamped at first commit — the on-disk version
  * marker the round-3 advisor asked for: a graft table's layout depends on
  * two conventions that live only in code (the bucket function
  * `pmod(hash(doc_id), n)` with Spark's Murmur3 seed 42, and the
  * snapshot-id space split batch/[1, 2^40) | streaming/[2^40, 2^50) |
  * compaction/[2^50, ..)), and silently changing either would corrupt a
  * pre-change table: storage-partitioned joins would co-locate rows by the
  * WRONG bucket, restart filtering would re-encode the wrong buckets, and
  * a checkpoint-replayed streaming epoch would double-publish its rows.
  *
  * The marker makes the conventions checkable:
  *  - every commit path ([[GraftWriteCommit.publish]],
  *    [[graft.lineage.SegmentStore.encodeCommit]]) stamps
  *    `lineage/_meta` on first commit and FAILS FAST on any later commit
  *    if the recorded conventions differ from the running code's;
  *  - the read-side SPJ declaration ([[GraftTable.partitioning]]) refuses
  *    to declare `bucket(n, doc_id)` unless the marker certifies the
  *    stored layout used the current bucket function — an unverifiable
  *    (pre-marker) table silently degrades to shuffled joins, never to a
  *    wrong join.
  *
  * The file is plain `key=value` lines (no JSON parser dependency),
  * created with create-no-overwrite so two racing first commits converge:
  * the loser re-reads and validates. The leading underscore keeps it
  * invisible to every parquet listing (`_`-prefixed names are skipped by
  * [[GraftLayout]] and Spark alike). The Iceberg analog is
  * `TableMetadata.properties` + `format-version`.
  */
object GraftTableMeta {

  /** Current conventions, written by this code and required of any table
    * it appends to. Bump when a layout-affecting convention changes. */
  final val FormatVersion = 2
  final val BucketFunction = "murmur3-seed42-pmod"

  final case class Meta(formatVersion: Int, bucketFunction: String,
                        schemaDdl: Option[String], schemaVersion: Int = 0,
                        sortBy: Option[String] = None) {
    def render: String = {
      val base = s"formatVersion=$formatVersion\nbucketFunction=$bucketFunction\n"
      val withSchema = schemaDdl.fold(base)(d => base + s"schema=$d\n")
      // ADVISORY sort order (engine-stream name, [[graft.codec.CodecConf
      // .sortBy]]): recorded at creation so appends inherit the clustering
      // and compaction re-sorts by it; never validated (a divergent append
      // only loses pruning tightness, never correctness — stats recompute)
      sortBy.fold(withSchema)(c => withSchema + s"sortBy=$c\n")
    }
  }

  val Current: Meta = Meta(FormatVersion, BucketFunction, None)

  def metaPath(tableDir: String): HPath = new HPath(tableDir, "lineage/_meta")

  private def versionPath(tableDir: String, v: Int): HPath =
    new HPath(tableDir, s"lineage/_meta.v$v")

  /** `_meta` is WRITE-ONCE (create-no-overwrite at first commit, fixed for
    * the table's lifetime), so a successful read is cacheable forever —
    * without this every scan/write build pays an FS round-trip per table.
    * Absence is NOT cached (the table may be created later). Bounded LRU
    * like the header cache (temp tables churn in tests/benches). */
  private val metaCache =
    new java.util.LinkedHashMap[String, Meta](256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[String, Meta]): Boolean =
        size() > 16 * 1024
    }

  /** The composed CURRENT meta: the write-once base marker (cached
    * forever) overlaid with the newest additive schema version file
    * (`lineage/_meta.v<N>`, [[evolve]]) — version files are listed fresh
    * on every read (one FS listing; the current schema is mutable state
    * the Iceberg analog keeps in its catalog pointer), their CONTENT is
    * write-once and cached by path. */
  def read(tableDir: String, conf: Configuration): Option[Meta] = {
    val base = {
      val hit = metaCache.synchronized(Option(metaCache.get(tableDir)))
      hit.orElse {
        val got = readUncached(tableDir, conf)
        got.foreach(m => metaCache.synchronized { metaCache.put(tableDir, m) })
        got
      }
    }
    base.map { m =>
      latestVersion(tableDir, conf) match {
        case Some((v, ddl)) if v > 0 => m.copy(schemaDdl = Some(ddl), schemaVersion = v)
        case _ => m
      }
    }
  }

  private val VersionRe = """_meta\.v(\d+)""".r

  /** Short-TTL memo of [[latestVersion]] — read() is on the scan-build and
    * write-build path of EVERY query, and the version listing would
    * otherwise re-pay an FS listing per table per query (two metadata RPCs
    * on an object store) even for the common never-evolved table. The TTL
    * bounds cross-process staleness (an evolve in ANOTHER driver becomes
    * visible within `VersionTtlNanos` — the same eventual-consistency
    * contract as a cached Iceberg catalog pointer); an in-JVM [[evolve]]
    * invalidates its own entry, so same-driver evolve→append→read is
    * always exact. */
  private val VersionTtlNanos = 30L * 1000 * 1000 * 1000
  private val latestVersionCache =
    new java.util.concurrent.ConcurrentHashMap[String, (Long, Option[(Int, String)])]()

  /** Newest `_meta.v<N>` (version, schema ddl), if any. */
  private def latestVersion(tableDir: String, conf: Configuration): Option[(Int, String)] = {
    val now = System.nanoTime()
    val hit = latestVersionCache.get(tableDir)
    if (hit != null && now - hit._1 < VersionTtlNanos) return hit._2
    val ldir = new HPath(tableDir, "lineage")
    val fs = ldir.getFileSystem(conf)
    val versions =
      try fs.listStatus(ldir).iterator.flatMap { st =>
        st.getPath.getName match {
          case VersionRe(n) => n.toIntOption
          case _ => None
        }
      }.toSeq
      catch { case _: java.io.FileNotFoundException => Nil }
    val got =
      if (versions.isEmpty) None
      else {
        val v = versions.max
        versionContent(versionPath(tableDir, v), fs).map(v -> _)
      }
    latestVersionCache.put(tableDir, (now, got))
    got
  }

  /** Version-file schema ddl, cached by path (version files are
    * write-once; TRUNCATE deletes the whole lineage dir and
    * [[invalidate]] drops these entries). */
  private val versionCache = new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def versionContent(p: HPath, fs: org.apache.hadoop.fs.FileSystem): Option[String] = {
    val key = p.toString
    val hit = versionCache.get(key)
    if (hit != null) return Some(hit)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    val ddl = text.split('\n').iterator.map(_.trim)
      .collectFirst { case l if l.startsWith("schema=") => l.substring(7) }
    ddl.foreach(versionCache.put(key, _))
    ddl
  }

  /** TRUNCATE is the ONE operation that deletes and restamps `_meta`
    * (possibly with a different schema) — it must drop the cached entries
    * (base marker AND any version-file content under the table). */
  def invalidate(tableDir: String): Unit = {
    metaCache.synchronized { metaCache.remove(tableDir): Unit }
    latestVersionCache.remove(tableDir)
    val prefix = new HPath(tableDir, "lineage").toString
    val it = versionCache.keySet().iterator()
    while (it.hasNext) { if (it.next().startsWith(prefix)) it.remove() }
  }

  /** SCHEMA EVOLUTION (round-5 item 3; the one-table analog of the
    * reference's multi-file `Schema::try_merge`, file_format.rs:146-161):
    * ADD metadata columns with null default. The new ddl must extend the
    * current one — every existing column unchanged, new supported
    * metadata columns appended — so files written before the evolution
    * simply lack the new streams and decode them as all-null (the
    * PRESENT-framing contract the readers already implement for absent
    * streams). Renames/drops/retypes are refused: they would change what
    * existing bytes MEAN.
    *
    * Concurrency: the next version file is created with
    * create-no-overwrite; a losing racer re-reads and succeeds
    * idempotently iff the winner recorded the same ddl.
    *
    * Returns the new schema version. */
  def evolve(tableDir: String, conf: Configuration,
             newSchema: org.apache.spark.sql.types.StructType): Int = {
    MetaColumns.validate(newSchema)
    val newDdl = MetaColumns.ddl(newSchema)
    val cur = read(tableDir, conf).getOrElse(throw new IllegalStateException(
      s"graft table $tableDir has no lineage/_meta marker; create the table " +
        "(first commit) before evolving its schema"))
    val curDdl = cur.schemaDdl.getOrElse(MetaColumns.CanonicalDdl)
    if (newDdl == curDdl) return cur.schemaVersion // idempotent no-op
    require(newDdl.startsWith(curDdl + ","),
      s"graft schema evolution is ADD-COLUMN only: the new schema must extend " +
        s"the current one.\n  current: [$curDdl]\n  new:     [$newDdl]")
    val next = cur.schemaVersion + 1
    val p = versionPath(tableDir, next)
    val fs = GraftLayout.writeFs(p, conf)
    try {
      val out = fs.create(p, false)
      try out.write(s"schema=$newDdl\n".getBytes(StandardCharsets.UTF_8))
      finally out.close()
      latestVersionCache.remove(tableDir) // this JVM sees the evolution NOW
      next
    } catch {
      case e: java.io.IOException =>
        latestVersionCache.remove(tableDir) // see the concurrent winner, not the memo
        val after = read(tableDir, conf)
        if (after.exists(_.schemaDdl.contains(newDdl))) after.get.schemaVersion
        else throw new java.util.ConcurrentModificationException(
          s"graft table $tableDir: a concurrent schema evolution recorded a " +
            s"different schema (${after.flatMap(_.schemaDdl)})", e)
    }
  }

  private def readUncached(tableDir: String, conf: Configuration): Option[Meta] = {
    val p = metaPath(tableDir)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    val text =
      try {
        val buf = new java.io.ByteArrayOutputStream()
        val tmp = new Array[Byte](4096)
        var n = in.read(tmp)
        while (n >= 0) { buf.write(tmp, 0, n); n = in.read(tmp) }
        new String(buf.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
    val kv = text.split('\n').iterator
      .map(_.trim).filter(l => l.nonEmpty && l.contains('='))
      .map { l => val i = l.indexOf('='); l.substring(0, i) -> l.substring(i + 1) }
      .toMap
    Some(Meta(
      kv.get("formatVersion").flatMap(_.toIntOption).getOrElse(0),
      kv.getOrElse("bucketFunction", ""),
      kv.get("schema").filter(_.nonEmpty),
      sortBy = kv.get("sortBy").filter(_.nonEmpty)))
  }

  /** Does the table already have committed history (any ledger file)? A
    * ledgered table WITHOUT a meta marker is a pre-marker table whose
    * bucket function / id space cannot be verified. */
  private def hasLedgerHistory(tableDir: String, conf: Configuration): Boolean = {
    val ldir = new HPath(tableDir, "lineage")
    val fs = ldir.getFileSystem(conf)
    if (!fs.exists(ldir)) return false
    // listStatus, not listFiles: see GraftLayout.listFilesUnder
    fs.listStatus(ldir).exists(f => f.isFile && GraftLayout.isDataFile(f.getPath.getName))
  }

  /** Commit-path gate: stamp the marker on a fresh table, validate it on an
    * existing one, and REFUSE to append to a table whose conventions are
    * unverifiable or different — appending with a changed bucket function
    * or id space silently misplaces/drops rows (the advisor's finding);
    * failing by name here is the only safe answer.
    *
    * @param schemaDdl the table schema to record/require (None = the
    *   canonical TokenRow schema; see [[GraftWriteBuilder]])
    */
  def ensureForCommit(tableDir: String, conf: Configuration,
                      schemaDdl: Option[String] = None,
                      sortBy: Option[String] = None): Meta = {
    val want = Meta(FormatVersion, BucketFunction, schemaDdl, sortBy = sortBy)
    read(tableDir, conf) match {
      case Some(m) => validate(tableDir, m, schemaDdl); m
      case None =>
        if (hasLedgerHistory(tableDir, conf))
          throw new IllegalStateException(
            s"graft table $tableDir has a lineage ledger but no lineage/_meta marker: " +
              "it was written by a pre-versioning build whose bucket function and " +
              "snapshot-id space cannot be verified; appending could misplace rows " +
              "or double-publish replayed epochs. Re-create the table (or decode " +
              "and re-encode it) with the current build.")
        val p = metaPath(tableDir)
        val fs = GraftLayout.writeFs(p, conf)
        fs.mkdirs(p.getParent)
        try {
          // create-no-overwrite = the CAS: exactly one racing first commit
          // creates the marker, every other one falls through to validate
          val out = fs.create(p, false)
          try out.write(want.render.getBytes(StandardCharsets.UTF_8))
          finally out.close()
          want
        } catch {
          case _: java.io.IOException =>
            val m = read(tableDir, conf).getOrElse(
              throw new IllegalStateException(
                s"graft table $tableDir: could not create or read lineage/_meta"))
            validate(tableDir, m, schemaDdl)
            m
        }
    }
  }

  private def validate(tableDir: String, m: Meta, schemaDdl: Option[String]): Unit = {
    if (m.bucketFunction != BucketFunction)
      throw new IllegalStateException(
        s"graft table $tableDir was written with bucket function " +
          s"'${m.bucketFunction}'; this build uses '$BucketFunction'. Appending " +
          "would mix two bucket layouts in one table (storage-partitioned joins " +
          "and restart filtering would silently misplace rows).")
    if (m.formatVersion > FormatVersion)
      throw new IllegalStateException(
        s"graft table $tableDir has format version ${m.formatVersion}; this build " +
          s"supports up to $FormatVersion.")
    // An absent schema line (pre-metadata-columns marker, or the engine
    // path's implicit TokenRow contract) means the canonical schema — so a
    // canonical writer can append to a pre-metadata table, while appending
    // a DIFFERENT column set to any table fails by name.
    val have = m.schemaDdl.getOrElse(MetaColumns.CanonicalDdl)
    val want = schemaDdl.getOrElse(MetaColumns.CanonicalDdl)
    if (want != have)
      throw new IllegalStateException(
        s"graft table $tableDir has schema [$have]; the write provides [$want]. " +
          "Graft table schemas are fixed at creation.")
  }

  /** Read-side certification for storage-partitioned joins: declare the
    * `bucket(n, doc_id)` transform ONLY when the marker proves the stored
    * layout used the current function. Unverifiable (pre-marker) or
    * foreign tables answer false and degrade to shuffled joins. */
  def bucketFunctionCertified(tableDir: String, conf: Configuration): Boolean =
    read(tableDir, conf).exists(_.bucketFunction == BucketFunction)
}
