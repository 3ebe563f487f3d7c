package graft.sources

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.{FileSystem, Path}

import graft.sources.SnapshotLog.{Dv, Manifest, ProtocolException}

/** The [[SnapshotLog]] manifest grammar in one place: tags, line codecs,
  * the three root layouts and the side files they point at. Every
  * reader and [[SnapshotLog.tryCommit]] go through here; the layout
  * branch (inline / sharded / two-level) exists only in this object.
  *
  * A committed root `_log/v<version>.txt` is, line by line:
  * {{{
  *   #schema, #feature, #op, #constraint, #prop, #colmap, #droppedcol
  *   #ts <epochMillis>
  *   #txn <app> <batch> ...           or one  #txnfile <rel> <count> <sha256>
  *   body: file lines                 (inline)
  *       | #shard lines               (sharded: one per partition)
  *       | #sgroup lines              (two-level: one per partition group)
  *   #eof
  * }}}
  * A file line is `part\tfile[\tstats[\tblooms[\tdv]]]`. Side files
  * (shards `s*.txt`, pointer groups `g*.txt`, spilled watermarks
  * `t*.txt`) use the same grammar and end in the same footer. Fields
  * that can hold grammar characters are [[enc]]-escaped. */
private[sources] object ManifestCodec {

  /** Last line of every committed manifest. A manifest missing it is
    * in-flight (create-exclusive claimed the name but the writer has
    * not finished, or crashed mid-write) — readers skip it and fall
    * back to the previous complete version; writers allocate PAST it. */
  val Footer = "#eof"

  // Header lines, each holding one [[Manifest]] field: `#schema <json>`,
  // `#op <name>`, `#constraint <name> <check-sql>`, `#txn <appId>
  // <batchId>`, `#prop <key> <value>`, `#colmap <logical> <physical>`,
  // `#droppedcol <physical>`.
  val SchemaTag = "#schema"
  val OpTag = "#op"
  val ConstraintTag = "#constraint"
  val TxnTag = "#txn"
  val PropTag = "#prop"
  val ColMapTag = "#colmap"
  val DroppedTag = "#droppedcol"

  /** Header line `#feature <name> <reader|writer>` — Delta-style TABLE
    * FEATURES, the protocol gate. Stamped by [[encode]] from the
    * manifest's actual content (a DV-carrying commit requires the
    * `deletionVectors` reader feature, etc.), and ENFORCED on both
    * planes: a reader missing a required reader feature refuses the
    * table at manifest parse ([[manifest]]) instead of misreading it
    * (resurrecting DV'd rows, exposing physical column names), and a
    * writer missing a required writer feature refuses to commit
    * ([[SnapshotLog.tryCommit]]) instead of corrupting invariants it
    * cannot see (row-id high waters, constraint enforcement). */
  val FeatureTag = "#feature"

  /** Header line `#ts <epochMillis>` — the IN-COMMIT TIMESTAMP
    * (Delta's ICT feature): commit time recorded as a property of the
    * commit itself, monotone by construction (max(now, prev+1)), so
    * `TIMESTAMP AS OF` and DESCRIBE HISTORY survive storage
    * migrations, backup restores, and cross-writer clock skew — all
    * of which rewrite or reorder file MODIFICATION times. Every root
    * [[encode]] produces carries one. */
  val TsTag = "#ts"

  // Pointer lines: `#shard <part> <rel> <nFiles> <nRows> <nDv> <hash>`
  // (see [[SnapshotLog.ShardFileThreshold]]), `#sgroup <first> <last>
  // <rel> <nParts> <nFiles> <nRows> <nDv> <hash>` (see
  // [[SnapshotLog.ShardGroupSize]]), `#txnfile <rel> <count> <sha256>`
  // (see [[SnapshotLog.TxnSpillThreshold]]).
  val ShardTag = "#shard"
  val GroupTag = "#sgroup"
  val TxnFileTag = "#txnfile"

  def logDir(base: Path) = new Path(base, "_log")
  def vName(v: Long) = f"v$v%011d.txt"

  /** The version a `_log` entry name denotes, if it is a root name. */
  def versionOf(name: String): Option[Long] =
    if (name.startsWith("v") && name.endsWith(".txt"))
      name.stripPrefix("v").stripSuffix(".txt").toLongOption
    else None

  /** Every root name in `_log` (committed or not), unsorted. */
  def listedVersions(fs: FileSystem, base: Path): Seq[Long] = {
    val dir = logDir(base)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.flatMap(st => versionOf(st.getPath.getName))
  }

  /** Marker that opts a table into sharded manifests below
    * [[SnapshotLog.ShardFileThreshold]]. Content "g" additionally
    * forces TWO-LEVEL roots with tiny (2-partition) groups. */
  private def shardMarker(base: Path) = new Path(logDir(base), "sharded.marker")

  def markSharded(fs: FileSystem, base: Path, grouped: Boolean): Unit = {
    fs.mkdirs(logDir(base))
    val out = fs.create(shardMarker(base), true)
    try if (grouped) out.write("g".getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Percent-encode exactly the characters the manifest line grammar
    * uses (plus the escape char itself); applied to stats column names
    * and bound values. */
  def enc(s: String): String = s.flatMap {
    case c @ ('%' | ';' | ':' | '\t' | '\n' | '\r') => f"%%${c.toInt}%02X"
    case c => c.toString
  }

  def dec(s: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar)
        i += 3
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  private def sha256Hex(s: String): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** File, partition or group counts with the live-row total, which is
    * −1 as soon as one file carries no recorded row count. */
  final case class Rollup(nParts: Long, nFiles: Long, nRows: Long, nDv: Long) {
    def +(o: Rollup): Rollup = Rollup(nParts + o.nParts, nFiles + o.nFiles,
      if (nRows < 0L || o.nRows < 0L) -1L else nRows + o.nRows, nDv + o.nDv)
  }
  private val NoRollup = Rollup(0L, 0L, 0L, 0L)

  /** One data file's manifest line, decoded. */
  final case class FileEntry(
      part: String, file: String,
      stats: Map[String, (String, String)],
      blooms: Map[String, String],
      dv: Option[Dv])

  /** One partition's rollup over its file entries: live rows are the
    * recorded count minus the DV cardinality. */
  private def rollupOf(es: Seq[FileEntry]): Rollup = {
    val rows = es.map(e => e.stats.get(SnapshotLog.RowCountKey)
      .flatMap(_._1.toLongOption).map(_ - e.dv.map(_.count).getOrElse(0L)))
    Rollup(1L, es.size.toLong,
      if (rows.exists(_.isEmpty)) -1L else rows.flatten.sum,
      es.flatMap(_.dv).map(_.count).sum)
  }

  /** One `#shard` pointer: partition → shard file (rel to `_log/`),
    * plus rollups so DESCRIBE HISTORY / metadata COUNT(*) answer from
    * the root alone. `hash` is the SHA-256 of the shard's body text —
    * an unchanged partition's pointer is REUSED by the next commit
    * without reading (or rewriting) the shard. */
  final case class ShardPtr(part: String, rel: String, rollup: Rollup, hash: String)

  /** One `#sgroup` pointer of a two-level root: a contiguous sorted
    * partition range [first, last] → the group file (rel to `_log/`)
    * holding its `#shard` lines, with rollups and the group body's
    * content hash for commit-time reuse. */
  final case class GroupPtr(
      first: String, last: String, rel: String, rollup: Rollup, hash: String)

  /** The `#txnfile` pointer: side file, watermark count, content hash. */
  final case class TxnPtr(rel: String, count: Long, hash: String)

  /** A decoded root (or side file: a group file decodes to `shards`, a
    * shard file to `body`, a watermark file to `txns`). Header fields
    * are decoded eagerly; the inline body's file lines parse on first
    * use. */
  final case class Root(
      version: Long,
      schemaJson: Option[String],
      op: Option[String],
      ts: Option[Long],
      constraints: Map[String, String],
      txns: Map[String, Long],
      txnPtr: Option[TxnPtr],
      props: Map[String, String],
      colmap: Map[String, String],
      dropped: Set[String],
      readerFeatures: Set[String],
      writerFeatures: Set[String],
      shards: Seq[ShardPtr],
      groups: Seq[GroupPtr],
      body: Seq[String]) {
    def inline: Boolean = shards.isEmpty && groups.isEmpty
    lazy val entries: Seq[FileEntry] = body.map(parseFileLine)
    /** Per-partition rollups of the root's own file lines, sorted. */
    lazy val lineRollups: Seq[(String, Rollup)] =
      entries.groupBy(_.part).toSeq.map { case (p, es) => p -> rollupOf(es) }.sortBy(_._1)

    /** The `#ts` stamp; a root without one is refused like a root
      * without its schema. */
    def commitTs(base: Path): Long = ts.getOrElse(throw new ProtocolException(
      s"$base v$version has no $TsTag commit timestamp"))

    /** Table totals from the root alone — pointer-line rollups on
      * sharded and two-level roots (no side file opens), the root's
      * own file lines on inline ones. */
    def totals: Rollup =
      (if (groups.nonEmpty) groups.map(_.rollup)
       else if (shards.nonEmpty) shards.map(_.rollup)
       else lineRollups.map(_._2)).foldLeft(NoRollup)(_ + _)
  }

  private def parseFileLine(l: String): FileEntry = {
    val a = l.split("\t", 5)
    val stats =
      if (a.length >= 3 && a(2).nonEmpty) a(2).split(";").iterator.map { entry =>
        val Array(c, mn, mx) = entry.split(":", 3)
        dec(c) -> (dec(mn), dec(mx))
      }.toMap
      else Map.empty[String, (String, String)]
    val blooms =
      if (a.length >= 4 && a(3).nonEmpty) a(3).split(";").iterator.map { entry =>
        val Array(c, b) = entry.split(":", 2)
        dec(c) -> b
      }.toMap
      else Map.empty[String, String]
    val dv =
      if (a.length == 5 && a(4).nonEmpty) {
        val Array(kind, n, payload) = a(4).split(":", 3)
        Some(kind match {
          case "i" => Dv(n.toLong, Some(payload), None)
          case "f" => Dv(n.toLong, None, Some(dec(payload)))
          case other => sys.error(s"unknown DV kind '$other' in manifest")
        })
      } else None
    FileEntry(a(0), a(1), stats, blooms, dv)
  }

  /** One manifest body line for `e`. Trailing fields are elided
    * right-to-left; an empty middle field stays as a placeholder so
    * positions keep their meaning. */
  private def fileLine(e: FileEntry): String = {
    val stS = e.stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
      s"${enc(c)}:${enc(mn)}:${enc(mx)}"
    }.mkString(";")
    // base64 alphabet is disjoint from the grammar chars (tab ; :)
    val blS = e.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
      s"${enc(c)}:$b"
    }.mkString(";")
    val dvS = e.dv.map {
      case Dv(n, Some(b64), _) => s"i:$n:$b64"
      case Dv(n, None, Some(rel)) => s"f:$n:${enc(rel)}"
      case Dv(_, None, None) =>
        sys.error(s"DV for ${e.file} has neither inline nor sidecar payload")
    }.getOrElse("")
    val p = e.part
    val f = e.file
    if (dvS.nonEmpty) s"$p\t$f\t$stS\t$blS\t$dvS"
    else if (e.blooms.nonEmpty) s"$p\t$f\t$stS\t$blS"
    else if (e.stats.nonEmpty) s"$p\t$f\t$stS"
    else s"$p\t$f"
  }

  private def shardPtrLine(sp: ShardPtr): String = {
    val r = sp.rollup
    s"$ShardTag\t${enc(sp.part)}\t${enc(sp.rel)}\t${r.nFiles}\t" +
      s"${r.nRows}\t${r.nDv}\t${sp.hash}"
  }

  private def groupPtrLine(g: GroupPtr): String = {
    val r = g.rollup
    s"$GroupTag\t${enc(g.first)}\t${enc(g.last)}\t${enc(g.rel)}\t" +
      s"${r.nParts}\t${r.nFiles}\t${r.nRows}\t${r.nDv}\t${g.hash}"
  }

  /** Decode `text` in one pass over its lines. Footer-agnostic: callers
    * that need a COMMITTED root check the footer first ([[readRoot]]). */
  def decode(v: Long, text: String): Root = {
    var schema, op = Option.empty[String]
    var ts = Option.empty[Long]
    var txnPtr = Option.empty[TxnPtr]
    val constraints, props, colmap = Map.newBuilder[String, String]
    val txns = Map.newBuilder[String, Long]
    val dropped = Set.newBuilder[String]
    val readerF, writerF = Set.newBuilder[String]
    val shards = Vector.newBuilder[ShardPtr]
    val groups = Vector.newBuilder[GroupPtr]
    val body = Vector.newBuilder[String]
    def pair(rest: String): (String, String) = {
      val a = rest.split("\t", 2)
      dec(a(0)) -> dec(a(1))
    }
    text.split("\n").foreach { l =>
      if (l.isEmpty) ()
      else if (l.charAt(0) != '#') body += l
      else {
        val tab = l.indexOf('\t')
        if (tab > 0) {
          val rest = l.substring(tab + 1)
          l.substring(0, tab) match {
            case SchemaTag => if (schema.isEmpty) schema = Some(dec(rest))
            case OpTag => if (op.isEmpty) op = Some(dec(rest))
            case TsTag => if (ts.isEmpty) ts = rest.trim.toLongOption
            case ConstraintTag => constraints += pair(rest)
            case PropTag => props += pair(rest)
            case ColMapTag => colmap += pair(rest)
            case DroppedTag => dropped += dec(rest)
            case TxnTag =>
              val a = rest.split("\t", 2)
              txns += dec(a(0)) -> a(1).toLong
            case FeatureTag =>
              val a = rest.split("\t", 2)
              if (a(1) == "reader") readerF += dec(a(0))
              else if (a(1) == "writer") writerF += dec(a(0))
            case TxnFileTag =>
              if (txnPtr.isEmpty) {
                val a = rest.split("\t", 3)
                txnPtr = Some(TxnPtr(dec(a(0)), a(1).toLong, a(2)))
              }
            case ShardTag =>
              val a = rest.split("\t", 6)
              shards += ShardPtr(dec(a(0)), dec(a(1)),
                Rollup(1L, a(2).toLong, a(3).toLong, a(4).toLong), a(5))
            case GroupTag =>
              val a = rest.split("\t", 8)
              groups += GroupPtr(dec(a(0)), dec(a(1)), dec(a(2)),
                Rollup(a(3).toLong, a(4).toLong, a(5).toLong, a(6).toLong), a(7))
            case _ => ()
          }
        }
      }
    }
    Root(v, schema, op, ts, constraints.result(), txns.result(),
      txnPtr, props.result(), colmap.result(), dropped.result(),
      readerF.result(), writerF.result(), shards.result(), groups.result(),
      body.result())
  }

  def readText(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }

  /** Version `v`'s root iff that version is COMMITTED (footer-complete),
    * read and decoded once. Never opens side files. */
  def readRoot(fs: FileSystem, base: Path, v: Long): Option[Root] = {
    val target = new Path(logDir(base), vName(v))
    if (v == 0L || !fs.exists(target)) None
    else {
      val text = readText(fs, target)
      if (text.endsWith(Footer + "\n")) Some(decode(v, text)) else None
    }
  }

  /** The newest committed root below version `v`. */
  def rootBelow(fs: FileSystem, base: Path, v: Long): Option[Root] = {
    var pv = v - 1
    while (pv > 0L) {
      readRoot(fs, base, pv) match {
        case some @ Some(_) => return some
        case None => pv -= 1
      }
    }
    None
  }

  /** `f` of every committed root, ascending by version — each root read
    * once and dropped once `f` has seen it. */
  def mapCommitted[A](fs: FileSystem, base: Path)(f: Root => A): Seq[A] =
    listedVersions(fs, base).sorted.flatMap(v => readRoot(fs, base, v).map(f))

  /** A footer-checked side file under `_log/` (shard, pointer group or
    * spilled watermarks). A committed root guarantees its side files
    * are complete — anything else is corruption and fails loudly. */
  private def readSideFile(fs: FileSystem, base: Path, rel: String, v: Long): Root = {
    val p = new Path(logDir(base), rel)
    if (!fs.exists(p))
      sys.error(s"manifest v$v references missing shard $rel")
    val text = readText(fs, p)
    if (!text.endsWith(Footer + "\n"))
      sys.error(s"manifest v$v shard $rel is incomplete")
    decode(v, text)
  }

  /** The root's FULL shard-pointer list — resolving through pointer
    * groups when the root is two-level. Empty on inline roots. */
  private def shardsOf(fs: FileSystem, base: Path, r: Root): Seq[ShardPtr] =
    if (r.groups.isEmpty) r.shards
    else r.groups.flatMap(g => readSideFile(fs, base, g.rel, r.version).shards)

  /** Per-partition rollups, sorted by partition — pointer lines on
    * sharded roots (two-level roots open their pointer groups, never a
    * shard), the root's own file lines on inline ones. */
  def partitions(fs: FileSystem, base: Path, r: Root): Seq[(String, Rollup)] =
    if (r.inline) r.lineRollups
    else shardsOf(fs, base, r).map(sp => sp.part -> sp.rollup).sortBy(_._1)

  /** The root's file entries of the partitions `partPred` accepts — on
    * a sharded root the pruned shards are never opened. */
  private def entriesOf(
      fs: FileSystem, base: Path, r: Root,
      partPred: Option[String => Boolean]): Seq[FileEntry] =
    if (r.inline) partPred.fold(r.entries)(p =>
      // prune on the partition field before parsing the rest of a line
      r.body.filter(l => p(l.substring(0, math.max(l.indexOf('\t'), 0))))
        .map(parseFileLine))
    else {
      // a committed root guarantees complete side files (they are fully
      // written before the root's create-exclusive), so a missing or
      // truncated one is corruption — fail loudly, never silently drop
      // a partition
      val wanted = shardsOf(fs, base, r).filter(sp => partPred.forall(_(sp.part)))
      val es = wanted.flatMap(sp => readSideFile(fs, base, sp.rel, r.version).entries)
      partPred.fold(es)(p => es.filter(e => p(e.part)))
    }

  /** The [[Manifest]] of root `r`, optionally holding only the
    * partitions `partPred` accepts. Refuses (never misreads) a root
    * without its schema or requiring a reader feature this engine
    * lacks; loads spilled watermarks and the wanted shards. */
  def manifest(
      fs: FileSystem, base: Path, r: Root,
      partPred: Option[String => Boolean]): Manifest = {
    val schemaJson = r.schemaJson.getOrElse(throw new ProtocolException(
      s"$base v${r.version} has no $SchemaTag header — refusing to read a " +
        "manifest without its schema rather than misread it"))
    val missingR = r.readerFeatures -- SnapshotLog.SupportedReaderFeatures
    if (missingR.nonEmpty) throw new ProtocolException(
      s"$base requires reader feature(s) this engine does not " +
        s"implement: ${missingR.toSeq.sorted.mkString(", ")} — " +
        "refusing to read rather than misread (upgrade the engine)")
    // spilled watermarks: same loud-on-missing contract as shards
    // (silently dropping watermarks would double-apply replayed batches)
    val txns = r.txnPtr.fold(r.txns)(tp =>
      r.txns ++ readSideFile(fs, base, tp.rel, r.version).txns)
    val es = entriesOf(fs, base, r, partPred)
    Manifest(r.version,
      es.groupBy(_.part).map { case (p, xs) => p -> xs.map(_.file) },
      es.collect { case e if e.stats.nonEmpty => e.file -> e.stats }.toMap,
      es.collect { case e if e.blooms.nonEmpty => e.file -> e.blooms }.toMap,
      es.collect { case FileEntry(_, f, _, _, Some(dv)) => f -> dv }.toMap,
      Some(schemaJson), r.op, r.constraints, txns, r.props, r.colmap,
      r.dropped, r.readerFeatures, r.writerFeatures)
  }

  /** Side-file names under `_log/`: shards `s*`, pointer groups `g*`,
    * spilled watermarks `t*`. */
  def isSideFile(name: String): Boolean =
    (name.startsWith("s") || name.startsWith("g") || name.startsWith("t")) &&
      name.endsWith(".txt")

  /** [[SnapshotLog.vacuum]]'s keep set: the data files and DV sidecar
    * dirs any root or shard file on disk mentions, committed or not,
    * and the side files any root references (directly or through a
    * pointer group). */
  final case class References(files: Set[String], dvDirs: Set[String], sideFiles: Set[String])

  def references(fs: FileSystem, base: Path): References = {
    val dir = logDir(base)
    val listing = fs.listStatus(dir).toSeq.filter(_.isFile)
    // every root name, footer or not: an in-flight writer may still be
    // about to finish its commit
    val roots = listing.flatMap(st =>
      versionOf(st.getPath.getName).map(v => decode(v, readText(fs, st.getPath))))
    val groupRels = roots.flatMap(_.groups).map(_.rel).toSet
    val shardRels = roots.flatMap(_.shards).map(_.rel).toSet ++
      groupRels.toSeq.sorted.flatMap { rel =>
        val p = new Path(dir, rel)
        if (!fs.exists(p)) Nil else decode(0L, readText(fs, p)).shards.map(_.rel)
      }
    // data references are honored from EVERY shard file on disk,
    // referenced or not: an in-flight sharded committer has written its
    // side files but not yet its root
    val shardEntries = listing.filter { st =>
      val n = st.getPath.getName
      n.startsWith("s") && n.endsWith(".txt")
    }.flatMap(st => decode(0L, readText(fs, st.getPath)).entries)
    val entries = roots.flatMap(_.entries) ++ shardEntries
    References(entries.map(_.file).toSet,
      entries.flatMap(_.dv.flatMap(_.sidecarRel)).toSet,
      shardRels ++ groupRels ++ roots.flatMap(_.txnPtr).map(_.rel))
  }

  /** The full root text committing `m`, given the previous committed
    * root `prev` (read once by the caller). Writes the side files a
    * sharded layout or a spilled watermark set needs — reusing the
    * previous root's on content-hash match — before returning; the
    * root's own publication stays the caller's single commit point, so
    * side files of a lost race are orphans, reclaimed by vacuum. */
  def encode(
      fs: FileSystem, base: Path, m: Manifest,
      needR: Set[String], needW: Set[String], prev: Option[Root]): String = {
    val dir = logDir(base)
    def line(tag: String, fields: String*) = (tag +: fields).mkString("", "\t", "\n")
    def pairs(tag: String, kv: Map[String, String]) =
      kv.toSeq.sortBy(_._1).map { case (k, v) => line(tag, enc(k), enc(v)) }.mkString
    val header = m.schemaJson.map(j => line(SchemaTag, enc(j))).mkString +
      needR.toSeq.sorted.map(f => line(FeatureTag, enc(f), "reader")).mkString +
      needW.toSeq.sorted.map(f => line(FeatureTag, enc(f), "writer")).mkString +
      m.op.map(o => line(OpTag, enc(o))).mkString +
      pairs(ConstraintTag, m.constraints) + pairs(PropTag, m.props) +
      pairs(ColMapTag, m.colmap) +
      m.dropped.toSeq.sorted.map(p => line(DroppedTag, enc(p))).mkString
    val parts = m.files.toSeq.sortBy(_._1).map { case (p, fls) =>
      p -> fls.sorted.map(f => FileEntry(p, f, m.stats.getOrElse(f, Map.empty),
        m.blooms.getOrElse(f, Map.empty), m.dvs.get(f)))
    }
    val marker: Option[String] =
      if (!fs.exists(shardMarker(base))) None
      else Some(readText(fs, shardMarker(base)).trim)
    val sharded = m.allFiles.size >= SnapshotLog.ShardFileThreshold || marker.isDefined
    def writeSideFile(name: String, content: String): String = {
      // uuid-suffixed names: two same-version racers must never
      // collide on a side-file name (the loser's becomes an orphan)
      val o = fs.create(new Path(dir, name), false)
      try o.write((content + Footer + "\n").getBytes(StandardCharsets.UTF_8))
      finally o.close()
      name
    }
    def token = java.util.UUID.randomUUID.toString.take(8)
    val body =
      if (!sharded)
        parts.flatMap(_._2.map(fileLine)).mkString("", "\n", "\n")
      else {
        // one immutable shard file per partition, reused on
        // content-hash match with the previous committed root
        val prevShards = prev.map(r => shardsOf(fs, base, r).map(sp => sp.part -> sp).toMap)
          .getOrElse(Map.empty[String, ShardPtr])
        val sptrs = parts.zipWithIndex.map { case ((p, es), idx) =>
          val content = es.map(fileLine).mkString("", "\n", "\n")
          val hash = sha256Hex(content)
          val rel = prevShards.get(p).filter(_.hash == hash).map(_.rel).getOrElse(
            writeSideFile(f"s${m.version}%011d-p$idx-$token.txt", content))
          ShardPtr(p, rel, rollupOf(es), hash)
        }
        // two-level root past ShardGroupSize×2 partitions (or forced
        // by the "g" marker with tiny test groups): consecutive
        // sorted-partition chunks become pointer-group side files,
        // reused whole on content-hash match — append-mostly partition
        // growth leaves every earlier group byte-identical
        val gSize = if (marker.contains("g")) 2 else SnapshotLog.ShardGroupSize
        val grouped = marker.contains("g") || sptrs.size >= 2 * SnapshotLog.ShardGroupSize
        if (!grouped) sptrs.map(shardPtrLine).mkString("", "\n", "\n")
        else {
          val prevGroups = prev.map(_.groups.map(g => g.hash -> g.rel).toMap)
            .getOrElse(Map.empty[String, String])
          sptrs.grouped(gSize).zipWithIndex.map { case (chunk, gi) =>
            val content = chunk.map(shardPtrLine).mkString("", "\n", "\n")
            val ghash = sha256Hex(content)
            val rel = prevGroups.getOrElse(ghash,
              writeSideFile(f"g${m.version}%011d-p$gi-$token.txt", content))
            groupPtrLine(GroupPtr(chunk.head.part, chunk.last.part, rel,
              chunk.map(_.rollup).reduce(_ + _), ghash))
          }.mkString("", "\n", "\n")
        }
      }
    // transaction watermarks: inline `#txn` lines below the spill
    // threshold; past it, one content-hashed side file + a `#txnfile`
    // pointer, reused when the set is unchanged
    val txnLines =
      m.txns.toSeq.sortBy(_._1).map { case (a, b) => line(TxnTag, enc(a), b.toString) }.mkString
    val spillAt = m.props.get(SnapshotLog.TxnSpillProp).flatMap(_.trim.toIntOption)
      .filter(_ > 0).getOrElse(SnapshotLog.TxnSpillThreshold)
    val txnPart =
      if (m.txns.size < spillAt) txnLines
      else {
        val hash = sha256Hex(txnLines)
        val rel = prev.flatMap(_.txnPtr).filter(_.hash == hash).map(_.rel)
          .getOrElse(writeSideFile(f"t${m.version}%011d-$token.txt", txnLines))
        line(TxnFileTag, enc(rel), m.txns.size.toString, hash)
      }
    // in-commit timestamp: stamped per ATTEMPT (a retry is a new
    // commit instant), monotone past the previous committed root's
    // stamp even under cross-writer clock skew
    val commitTs = math.max(System.currentTimeMillis(),
      prev.flatMap(_.ts).map(_ + 1L).getOrElse(Long.MinValue))
    header + line(TsTag, commitTs.toString) + txnPart + body + Footer + "\n"
  }
}
