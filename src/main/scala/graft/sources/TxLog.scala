package graft.sources

import java.nio.file.{Files, Path, Paths, FileAlreadyExistsException, StandardCopyOption}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.functions.{coalesce, lit, not}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.Tables
import graft.util.Json

/** Transactional table layout over parquet — the missing piece between
  * "a directory of files" and a 100 TB table that many jobs append to,
  * delete from, and upsert into concurrently. The design is the public
  * Delta-Lake/Iceberg recipe re-expressed minimally (cf. the Delta Lake
  * VLDB'20 paper, "Delta Lake: High-Performance ACID Table Storage over
  * Cloud Object Stores"), built only on this repo's own pieces:
  *
  *   - An ordered ACTION LOG at `<table>/_txlog/<version 20-digit>.json`,
  *     one JSON action per line: `meta` (schema DDL), `add` (data file +
  *     row count + per-column min/max/null stats), `rm`, `txn`
  *     (streaming idempotence watermarks), `ci` (operation name).
  *   - COMMIT = put-if-absent of the next version's log file
  *     (hard-link creation is an atomic EEXIST-failing primitive on
  *     POSIX; object stores would plug a put-if-absent LogStore here,
  *     exactly Delta's deployment story). Losers of a race see
  *     [[CommitConflictException]] and retry against the new snapshot.
  *   - SNAPSHOT = replay from the newest checkpoint ≤ the target
  *     version, then the JSON tail. CHECKPOINTS (full state every
  *     [[checkpointInterval]] commits + `_last_checkpoint` pointer)
  *     keep snapshot cost O(live files + interval), never O(history) —
  *     the property that matters at millions of commits.
  *   - File statistics come from our own [[ParquetFooter]] walk of the
  *     bytes just written (never a second Spark scan), and power
  *     STATS-BASED FILE PRUNING: [[prunedRead]] matches a Catalyst
  *     predicate tree (conjunctions/disjunctions of comparisons against
  *     literals) against per-file min/max/nullCount, conservatively
  *     keeping any file an unknown conjunct might touch.
  *
  * Row-level operations rewrite ONLY the files whose stats overlap the
  * predicate (delete) or the source key range (upsert) — at 100 TB the
  * rewrite cost is proportional to the touched data, not the table.
  * Reads stay plain parquet scans of the live files under the
  * snapshot schema (`spark.read.schema(s).parquet(liveFiles)`), so
  * Catalyst pushdown/pruning and vectorized scans are untouched.
  *
  * Reference tie-in: the reference's batch loader persists batches with
  * a manifest and re-runs are expected to be idempotent
  * (reference `dagster_pipeline/assets.py` batch loop; our q08); `txn`
  * watermarks generalize that contract to exactly-once streaming sinks
  * (streaming.StreamingTxLog).
  */
object TxLog {

  /** Commits between full-state checkpoints. */
  val checkpointInterval = 10

  /** `nullCount` is None when the footer did not carry the optional
    * null_count statistic — an UNKNOWN count must keep the file under
    * IsNull/IsNotNull pruning (a 0 default would silently prune files
    * that do contain nulls).
    */
  final case class ColStat(
      nullCount: Option[Long],
      minNum: Option[Double], maxNum: Option[Double],
      minStr: Option[String], maxStr: Option[String])

  /** Per-file Bloom filter for one column — the data-skipping tier
    * BELOW min/max: equality probes on columns whose per-file ranges
    * all overlap (foreign keys, ids, hashes) prune on membership
    * instead. Positions mirror functions.PortableBloom's scheme
    * (md5("i:key") first 15 hex chars mod m), so the relational and
    * file-level blooms agree bit-for-bit on the same keys.
    */
  final case class BloomData(m: Int, k: Int, bits: Array[Long]) {
    def contains(key: String): Boolean =
      bloomPositions(key, k, m).forall(p => (bits(p >> 6) & (1L << (p & 63))) != 0)
  }

  final case class AddFile(path: String, rows: Long, bytes: Long,
                           stats: Map[String, ColStat],
                           blooms: Map[String, BloomData] = Map.empty)

  /** The canonical string form a value hashes under — file-side
    * (parquet decode) and probe-side (Catalyst literal) must agree.
    * Integral types only (doubles stay on range stats; their literal
    * rendering is too fragile to key a bloom on).
    */
  private def bloomKey(v: Any): Option[String] = v match {
    case i: Int => Some(i.toString)
    case l: Long => Some(l.toString)
    case s: String => Some(s)
    case u: UTF8String => Some(u.toString)
    case _ => None
  }

  private def bloomPositions(key: String, k: Int, m: Int): Seq[Int] = {
    val digestHex = (i: Int) => {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$i:$key".getBytes(java.nio.charset.StandardCharsets.UTF_8))
      md.take(8).map(b => f"${b & 0xff}%02x").mkString.take(15)
    }
    (0 until k).map(i => (java.lang.Long.parseLong(digestHex(i), 16) % m).toInt)
  }

  private def buildBloom(keys: Iterable[String]): BloomData = {
    val n = math.max(keys.size, 1)
    val m = math.max(1024, Integer.highestOneBit(n * 16 - 1) << 1) // ~16 bits/key, pow2
    val k = 3
    val bits = new Array[Long]((m + 63) / 64)
    keys.foreach(key => bloomPositions(key, k, m).foreach(p =>
      bits(p >> 6) |= 1L << (p & 63)))
    BloomData(m, k, bits)
  }

  /** A deletion vector: hidden row positions of one data file, stored
    * as a parquet (file, pos) sidecar under `_dv/` — rows are deleted
    * WITHOUT rewriting the data file (the current-generation
    * lakehouse mechanism for cheap point/predicate deletes on huge
    * files); readers anti-join the vector on parquet row indexes.
    */
  final case class DvRef(dvPath: String, hidden: Long)

  final case class Snapshot(version: Long, schemaDdl: String,
                            adds: Map[String, AddFile], txns: Map[String, Long],
                            dvs: Map[String, DvRef] = Map.empty) {
    def livePaths: Seq[String] = adds.keys.toSeq.sorted
  }

  final class CommitConflictException(table: String, version: Long)
    extends RuntimeException(s"txlog: version $version already committed at $table")

  /** A LOGICAL conflict: an interleaved commit invalidated this
    * operation's read set, so a retry at the next version would be
    * wrong — the operation must be re-planned against the new
    * snapshot. (Losing the raw version race alone is NOT a logical
    * conflict; [[commitWithRebase]] retries those transparently.)
    */
  final class ConcurrentWriteException(table: String, op: String, detail: String)
    extends RuntimeException(s"txlog: $op at $table conflicts with a concurrent commit: $detail")

  // ------------------------------------------------------------- actions
  private[sources] sealed trait Action
  private[sources] final case class Meta(schemaDdl: String) extends Action
  private[sources] final case class Add(f: AddFile) extends Action
  private[sources] final case class Remove(path: String) extends Action
  private[sources] final case class SetTxn(app: String, ver: Long) extends Action
  private[sources] final case class CommitInfo(op: String) extends Action
  private[sources] final case class Dv(path: String, dvPath: String, hidden: Long) extends Action

  private def actionJson(a: Action): String = a match {
    case Meta(ddl) => Json.write(Map("a" -> "meta", "schema" -> ddl))
    case Add(f) =>
      val stats = f.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        val m = scala.collection.mutable.LinkedHashMap[String, Any]()
        s.nullCount.foreach(v => m += ("nc" -> v))
        s.minNum.foreach(v => m += ("ln" -> v)); s.maxNum.foreach(v => m += ("xn" -> v))
        s.minStr.foreach(v => m += ("ls" -> v)); s.maxStr.foreach(v => m += ("xs" -> v))
        c -> m
      }
      val base = scala.collection.mutable.LinkedHashMap[String, Any](
        "a" -> "add", "p" -> f.path, "n" -> f.rows, "b" -> f.bytes,
        "s" -> scala.collection.mutable.LinkedHashMap(stats: _*))
      if (f.blooms.nonEmpty) {
        val bl = f.blooms.toSeq.sortBy(_._1).map { case (c, b) =>
          val bytes = new Array[Byte](b.bits.length * 8)
          b.bits.zipWithIndex.foreach { case (w, i) =>
            var j = 0
            while (j < 8) { bytes(8 * i + j) = ((w >>> (8 * j)) & 0xff).toByte; j += 1 }
          }
          c -> scala.collection.mutable.LinkedHashMap[String, Any](
            "m" -> b.m.toLong, "k" -> b.k.toLong,
            "bits" -> java.util.Base64.getEncoder.encodeToString(bytes))
        }
        base += ("bl" -> scala.collection.mutable.LinkedHashMap(bl: _*))
      }
      Json.write(base)
    case Remove(p) => Json.write(Map("a" -> "rm", "p" -> p))
    case Dv(p, dvp, h) =>
      Json.write(scala.collection.mutable.LinkedHashMap[String, Any](
        "a" -> "dv", "p" -> p, "dvp" -> dvp, "h" -> h))
    case SetTxn(app, v) =>
      Json.write(scala.collection.mutable.LinkedHashMap[String, Any](
        "a" -> "txn", "app" -> app, "v" -> v))
    case CommitInfo(op) => Json.write(Map("a" -> "ci", "op" -> op))
  }

  private def parseAction(line: String): Action = {
    val o = Json.parse(line).asInstanceOf[Map[String, Any]]
    o("a") match {
      case "meta" => Meta(o("schema").asInstanceOf[String])
      case "rm" => Remove(o("p").asInstanceOf[String])
      case "dv" => Dv(o("p").asInstanceOf[String], o("dvp").asInstanceOf[String],
        o("h").asInstanceOf[Long])
      case "txn" => SetTxn(o("app").asInstanceOf[String], o("v").asInstanceOf[Long])
      case "ci" => CommitInfo(o("op").asInstanceOf[String])
      case "add" =>
        val stats = o("s").asInstanceOf[Map[String, Any]].map { case (c, sv) =>
          val s = sv.asInstanceOf[Map[String, Any]]
          def num(k: String) = s.get(k).map {
            case l: Long => l.toDouble
            case d: Double => d
          }
          c -> ColStat(s.get("nc").map(_.asInstanceOf[Long]),
            num("ln"), num("xn"),
            s.get("ls").map(_.asInstanceOf[String]),
            s.get("xs").map(_.asInstanceOf[String]))
        }
        val blooms = o.get("bl").map(_.asInstanceOf[Map[String, Any]].map { case (c, bv) =>
          val b = bv.asInstanceOf[Map[String, Any]]
          val bytes = java.util.Base64.getDecoder.decode(b("bits").asInstanceOf[String])
          val bits = new Array[Long](bytes.length / 8)
          var i = 0
          while (i < bits.length) {
            var w = 0L; var j = 7
            while (j >= 0) { w = (w << 8) | (bytes(8 * i + j) & 0xffL); j -= 1 }
            bits(i) = w; i += 1
          }
          c -> BloomData(b("m").asInstanceOf[Long].toInt, b("k").asInstanceOf[Long].toInt, bits)
        }).getOrElse(Map.empty[String, BloomData])
        Add(AddFile(o("p").asInstanceOf[String], o("n").asInstanceOf[Long],
          o("b").asInstanceOf[Long], stats, blooms))
      case other => throw new IllegalStateException(s"txlog: unknown action $other")
    }
  }

  // ------------------------------------------------------------ log I/O
  private def logDir(table: String): Path = Paths.get(table, "_txlog")
  private def logName(v: Long): String = f"$v%020d.json"
  private def ckName(v: Long): String = f"$v%020d.checkpoint.json"

  /** Names in `dir` (non-recursive), with the JDK stream closed — a
    * leaked Files.list handle per snapshot() call is an EMFILE under
    * sustained load.
    */
  private def listNames(dir: Path): Seq[String] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val s = Files.list(dir)
    try s.iterator.asScala.map(_.getFileName.toString).toSeq finally s.close()
  }

  private def listVersions(table: String, suffix: String): Seq[Long] =
    listNames(logDir(table))
      .filter(n => n.endsWith(suffix) && n.length == 20 + suffix.length)
      .flatMap(n => n.stripSuffix(suffix).toLongOption)
      .sorted

  def latestVersion(table: String): Option[Long] = listVersions(table, ".json").maxOption

  /** Atomic put-if-absent: hard-link creation fails with EEXIST as one
    * filesystem operation. Falls back to check-then-move where links
    * are unsupported (weaker window, documented — a production object
    * store plugs a native conditional put here).
    */
  private def putIfAbsent(target: Path, bytes: Array[Byte]): Boolean = {
    val tmp = Files.createTempFile(target.getParent, ".tmp-", ".json")
    try {
      Files.write(tmp, bytes)
      try { Files.createLink(target, tmp); true }
      catch {
        case _: FileAlreadyExistsException => false
        case _: UnsupportedOperationException =>
          if (Files.exists(target)) false
          else { Files.move(tmp, target); true }
      }
    } finally Files.deleteIfExists(tmp)
  }

  private def commit(table: String, version: Long, actions: Seq[Action]): Unit = {
    Files.createDirectories(logDir(table))
    val body = actions.map(actionJson).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    if (!putIfAbsent(logDir(table).resolve(logName(version)), body))
      throw new CommitConflictException(table, version)
    // checkpoints are an optimization: the commit above is durable, so
    // a failed checkpoint write must not surface as a commit failure
    // (the next interval crossing retries it). NonFatal only — an
    // interrupt or OOM must still propagate — and the failure is
    // RECORDED so a persistently failing checkpointer (which degrades
    // every reader to O(history) replay) is observable, not silent.
    if (version > 0 && version % checkpointInterval == 0)
      try writeCheckpoint(table, version)
      catch {
        case scala.util.control.NonFatal(e) =>
          // bounded: keep the newest ~100 failure lines so a
          // persistently failing checkpointer cannot grow this file
          // without limit
          try {
            val p = logDir(table).resolve("_checkpoint_failures")
            val prior =
              if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
              else Seq.empty
            val kept = (prior :+ s"$version ${e.getClass.getName}: ${e.getMessage}").takeRight(100)
            Files.write(p, kept.mkString("", "\n", "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          } catch { case scala.util.control.NonFatal(_) => () }
      }
  }

  /** One line per best-effort checkpoint write that failed
    * (`<version> <exception>: <message>`) — the observability half of
    * the "a failed checkpoint must not fail the commit" contract.
    */
  def checkpointFailures(table: String): Seq[String] = {
    val p = logDir(table).resolve("_checkpoint_failures")
    if (Files.exists(p)) Files.readAllLines(p).asScala.toSeq.filter(_.nonEmpty)
    else Seq.empty
  }

  private def actionsOf(table: String, v: Long): Seq[Action] =
    Files.readAllLines(logDir(table).resolve(logName(v))).asScala.toSeq
      .filter(_.nonEmpty).map(parseAction)

  /** Optimistic concurrency with REBASE — the Delta/Iceberg commit
    * loop at WriteSerializable isolation. Losing the version race is
    * not a failure: the interleaved commits are replayed and checked
    * against this commit's READ SET (`readSet` — the files its
    * actions were derived from). Disjoint writers all land:
    *
    *   - blind appends (empty read set) rebase over anything except a
    *     schema change (their staged files were validated against the
    *     old schema);
    *   - predicate rewrites (delete/upsert/compact/cluster) rebase
    *     over commits that did not remove, re-add, or DV one of the
    *     files they read — an interleaved APPEND of rows that would
    *     have matched the predicate is permitted, exactly
    *     WriteSerializable's documented relaxation;
    *   - `exclusive` ops (overwrite, restore — they define the whole
    *     table state) conflict with any interleaved data change.
    *
    * On a logical conflict the operation throws
    * [[ConcurrentWriteException]]: its rewritten files were computed
    * from stale content and must be re-planned, not re-sequenced.
    */
  private[sources] def commitWithRebase(table: String, firstVersion: Long, actions: Seq[Action],
                               readSet: Set[String], op: String,
                               exclusive: Boolean = false): Long = {
    var v = firstVersion
    var attempts = 0
    while (true) {
      try { commit(table, v, actions); return v }
      catch {
        case _: CommitConflictException =>
          attempts += 1
          require(attempts < 1000, s"txlog: $op starved at $table")
          val latest = latestVersion(table).getOrElse(v)
          (v to latest).flatMap(actionsOf(table, _)).foreach {
            case Meta(_) =>
              throw new ConcurrentWriteException(table, op, "table schema changed")
            case Remove(p) if readSet(p) =>
              throw new ConcurrentWriteException(table, op, s"read file $p was removed")
            case Dv(p, _, _) if readSet(p) =>
              throw new ConcurrentWriteException(table, op, s"read file $p gained a deletion vector")
            case Add(f) if readSet(f.path) =>
              throw new ConcurrentWriteException(table, op, s"read file ${f.path} was re-added")
            case Add(_) | Remove(_) | Dv(_, _, _) if exclusive =>
              throw new ConcurrentWriteException(table, op, "interleaved data commit")
            case _ => ()
          }
          v = latest + 1
      }
    }
    v
  }

  private def writeCheckpoint(table: String, version: Long): Unit = {
    val s = snapshot(table, Some(version))
    val lines = Seq(Meta(s.schemaDdl)) ++
      s.txns.toSeq.sortBy(_._1).map { case (a, v) => SetTxn(a, v) } ++
      s.adds.toSeq.sortBy(_._1).map { case (_, f) => Add(f) } ++
      s.dvs.toSeq.sortBy(_._1).map { case (p, d) => Dv(p, d.dvPath, d.hidden) }
    val body = lines.map(actionJson).mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val dir = logDir(table)
    // temp files are cleaned up on ANY failure — a retried
    // checkpointer must not strew .tmp- debris through the log dir
    val tmp = Files.createTempFile(dir, ".tmp-", ".json")
    try {
      Files.write(tmp, body)
      Files.move(tmp, dir.resolve(ckName(version)), StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(tmp)
    val ptr = Files.createTempFile(dir, ".tmp-", ".json")
    try {
      Files.write(ptr, Json.write(Map("v" -> version)).getBytes("UTF-8"))
      Files.move(ptr, dir.resolve("_last_checkpoint"), StandardCopyOption.REPLACE_EXISTING)
    } finally Files.deleteIfExists(ptr)
  }

  /** State at `asOf` (default: latest). Replays from the newest
    * checkpoint at or below the target, so cost is bounded by
    * live-file count + checkpointInterval regardless of history length.
    */
  def snapshot(table: String, asOf: Option[Long] = None): Snapshot = {
    val versions = listVersions(table, ".json")
    require(versions.nonEmpty, s"txlog: no log at $table")
    val target = asOf.getOrElse(versions.max)
    require(versions.contains(target), s"txlog: version $target absent at $table")
    // checkpoints are an OPTIMIZATION: a torn, corrupt, or unreadable
    // checkpoint (crash mid-write, sabotaged path) must degrade to the
    // next-older one — or a full replay — never brick the table. Each
    // candidate is parsed completely before any action is applied.
    val ckActs: Option[(Long, Seq[Action])] =
      listVersions(table, ".checkpoint.json").filter(_ <= target).sorted.reverseIterator
        .flatMap { v =>
          try Iterator.single(v -> Files.readAllLines(logDir(table).resolve(ckName(v)))
            .asScala.toSeq.filter(_.nonEmpty).map(parseAction))
          catch { case scala.util.control.NonFatal(_) => Iterator.empty }
        }.nextOption()
    val ck = ckActs.map(_._1)
    var schemaDdl = ""
    val adds = scala.collection.mutable.LinkedHashMap.empty[String, AddFile]
    val txns = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val dvs = scala.collection.mutable.LinkedHashMap.empty[String, DvRef]
    def apply(a: Action): Unit = a match {
      case Meta(ddl) => schemaDdl = ddl
      case Add(f) => adds(f.path) = f
      case Remove(p) => adds.remove(p); dvs.remove(p) // a rewrite retires the DV too
      case Dv(p, dvp, h) => dvs(p) = DvRef(dvp, h)
      case SetTxn(app, v) => txns(app) = math.max(v, txns.getOrElse(app, Long.MinValue))
      case CommitInfo(_) => ()
    }
    def replayFile(p: Path): Unit =
      Files.readAllLines(p).asScala.filter(_.nonEmpty).foreach(l => apply(parseAction(l)))
    ckActs.foreach(_._2.foreach(apply))
    versions.filter(v => v > ck.getOrElse(-1L) && v <= target).sorted
      .foreach(v => replayFile(logDir(table).resolve(logName(v))))
    Snapshot(target, schemaDdl, adds.toMap, txns.toMap, dvs.toMap)
  }

  /** (version, operation) pairs, oldest first. */
  def history(table: String): Seq[(Long, String)] =
    listVersions(table, ".json").sorted.map { v =>
      val op = Files.readAllLines(logDir(table).resolve(logName(v))).asScala
        .filter(_.nonEmpty).map(parseAction).collectFirst { case CommitInfo(o) => o }
      (v, op.getOrElse(""))
    }

  // --------------------------------------------------------- data files
  /** Per-file footer walk + (optional) bloom build for ONE staged
    * part — the task-side kernel of [[stageWrite]]. Refuses to run on
    * the driver: at 100 TB a commit stages thousands of gigabyte
    * files, and funneling their bytes through one process is the
    * classic lakehouse write-path scale-killer.
    */
  private def statsOfStagedFile(path: String, bloomCols: Seq[String])
      : (Long, Map[String, ColStat], Map[String, BloomData]) = {
    require(org.apache.spark.TaskContext.get() != null,
      "txlog: the staged-file stats walk must run in a cluster task, never on the driver")
    val bytes = Files.readAllBytes(Paths.get(path))
    val info = ParquetFooter.read(bytes)
    require(info.valid, s"txlog: unreadable footer in staged file $path " +
      s"(size=${bytes.length} head=${bytes.take(4).mkString(",")})")
    val stats = info.columns.groupBy(_.path).map { case (cname, cols) =>
      cname -> ColStat(
        if (cols.forall(_.nullCount.isDefined)) Some(cols.flatMap(_.nullCount).sum) else None,
        cols.flatMap(_.minNum).reduceOption((a, b) => math.min(a, b)),
        cols.flatMap(_.maxNum).reduceOption((a, b) => math.max(a, b)),
        cols.flatMap(_.minStr).reduceOption((a, b) => if (a <= b) a else b),
        cols.flatMap(_.maxStr).reduceOption((a, b) => if (a >= b) a else b))
    }
    // Column blooms from OUR OWN parquet decode of the bytes just
    // written — in this task, no second Spark scan.
    val blooms = bloomCols.filter(stats.contains).flatMap { c =>
      val keys = ParquetRead.readColumn(bytes, info, c)
        .flatten.flatMap(bloomKey).toSet
      if (keys.isEmpty) None else Some(c -> buildBloom(keys))
    }.toMap
    (info.numRows, stats, blooms)
  }

  /** Write `df`'s partitions as parquet files in the table directory
    * (staged, then moved in — invisible until the commit that adds
    * them) and derive each add-action's row count and column stats
    * from OUR OWN footer walk of the bytes just written: no second
    * scan, and the stats the pruner later trusts are the stats the
    * file actually carries.
    */
  private def stageWrite(spark: SparkSession, df: DataFrame, table: String,
                         bloomCols: Seq[String] = Nil): Seq[AddFile] = {
    val tableDir = Paths.get(table)
    Files.createDirectories(tableDir)
    val staging = Files.createTempDirectory(tableDir, ".staging-")
    try {
      df.write.mode("overwrite").parquet(staging.toString)
      val parts = listNames(staging).filter(_.endsWith(".parquet")).sorted
      if (parts.isEmpty) return Seq.empty
      // Row counts, column stats, and blooms are computed IN CLUSTER
      // TASKS (one per staged file) over shared storage; only the
      // model-sized (rows, stats, bloom) records come back. The
      // driver's remaining work is metadata: renames and the commit.
      val stagingStr = staging.toString
      val statRows = spark.sparkContext.parallelize(parts, parts.size)
        .map(name => name -> statsOfStagedFile(s"$stagingStr/$name", bloomCols))
        .collect().toMap
      parts.flatMap { part =>
        val (rows, stats, blooms) = statRows(part)
        val src = staging.resolve(part)
        if (rows == 0) { Files.delete(src); None }
        else {
          val name = java.util.UUID.randomUUID().toString + ".parquet"
          val dst = tableDir.resolve(name)
          Files.move(src, dst)
          // anchor the staged-grace clock at MOVE-IN: a move keeps the
          // original write mtime, so a slow stage would eat its own
          // grace window before the commit even starts
          Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
          Some(AddFile(name, rows, Files.size(dst), stats, blooms))
        }
      }
    } finally {
      val w = Files.walk(staging)
      val all = try w.iterator.asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
  }

  private def dataPath(table: String, add: String): String =
    Paths.get(table).resolve(add).toString

  // ----------------------------------------------------------- pruning
  /** Column-API predicates arrive as UnresolvedFunction nodes ('=',
    * 'and', 'in', …) rather than concrete comparison expressions —
    * normalize the shapes the pruner understands; anything else is
    * left as-is and lands in mayMatch's conservative default.
    */
  private def norm(e: Expression): Expression = e match {
    case f: UnresolvedFunction =>
      val as = f.arguments.map(norm)
      (f.nameParts.last.toLowerCase, as) match {
        case ("=" | "==", Seq(a, b)) => EqualTo(a, b)
        case ("<", Seq(a, b)) => LessThan(a, b)
        case ("<=", Seq(a, b)) => LessThanOrEqual(a, b)
        case (">", Seq(a, b)) => GreaterThan(a, b)
        case (">=", Seq(a, b)) => GreaterThanOrEqual(a, b)
        case ("and", Seq(a, b)) => And(a, b)
        case ("or", Seq(a, b)) => Or(a, b)
        case ("not", Seq(a)) => Not(a)
        case ("in", a +: rest) if rest.nonEmpty => In(a, rest)
        case ("isnull", Seq(a)) => IsNull(a)
        case ("isnotnull", Seq(a)) => IsNotNull(a)
        case _ => f
      }
    case other => other.mapChildren(norm)
  }

  private def attrName(e: Expression): Option[String] = e match {
    case a: UnresolvedAttribute => Some(a.name)
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  private def litNum(v: Any): Option[Double] = v match {
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case d: Double => Some(d)
    case f: Float => Some(f.toDouble)
    case _ => None
  }

  private def litStr(v: Any): Option[String] = v match {
    case u: UTF8String => Some(u.toString)
    case s: String => Some(s)
    case _ => None
  }

  /** May `f` contain a row satisfying a comparison `col op v`?
    * `side` is -1 for <, 0 for =, 1 for > (strict flags separate).
    */
  private def overlap(f: AddFile, col: String, v: Any, side: Int, strict: Boolean): Boolean =
    f.stats.get(col) match {
      case None => true // no stats for the column: cannot prune
      case Some(s) =>
        (litNum(v), litStr(v)) match {
          case (Some(n), _) if s.minNum.isDefined && s.maxNum.isDefined =>
            side match {
              case 0 => s.minNum.get <= n && n <= s.maxNum.get
              case -1 => if (strict) s.minNum.get < n else s.minNum.get <= n
              case _ => if (strict) s.maxNum.get > n else s.maxNum.get >= n
            }
          case (_, Some(t)) if s.minStr.isDefined && s.maxStr.isDefined =>
            side match {
              case 0 => s.minStr.get <= t && t <= s.maxStr.get
              case -1 => if (strict) s.minStr.get < t else s.minStr.get <= t
              case _ => if (strict) s.maxStr.get > t else s.maxStr.get >= t
            }
          case _ => true // stats/literal type mismatch: stay conservative
        }
    }

  /** Conservative stats match: true unless the file's statistics PROVE
    * no row can satisfy `e`. Any shape the matcher doesn't understand
    * keeps the file.
    */
  private[sources] def mayMatch(f: AddFile, e: Expression): Boolean = matches(f, norm(e))

  /** Equality probes additionally consult the column's file bloom
    * when one exists — no false negatives, so pruning stays a
    * superset guarantee; range stats alone cannot prune scattered
    * keys whose per-file min/max all overlap.
    */
  private def bloomMayContain(f: AddFile, column: String, v: Any): Boolean =
    (f.blooms.get(column), bloomKey(v)) match {
      case (Some(b), Some(key)) => b.contains(key)
      case _ => true
    }

  private def matches(f: AddFile, e: Expression): Boolean = e match {
    case And(l, r) => matches(f, l) && matches(f, r)
    case Or(l, r) => matches(f, l) || matches(f, r)
    case EqualTo(a, Literal(v, _)) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 0, strict = false) &&
        bloomMayContain(f, attrName(a).get, v)
    case EqualTo(Literal(v, _), a) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 0, strict = false) &&
        bloomMayContain(f, attrName(a).get, v)
    case LessThan(a, Literal(v, _)) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, -1, strict = true)
    case LessThanOrEqual(a, Literal(v, _)) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, -1, strict = false)
    case GreaterThan(a, Literal(v, _)) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 1, strict = true)
    case GreaterThanOrEqual(a, Literal(v, _)) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 1, strict = false)
    case LessThan(Literal(v, _), a) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 1, strict = true)
    case LessThanOrEqual(Literal(v, _), a) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, 1, strict = false)
    case GreaterThan(Literal(v, _), a) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, -1, strict = true)
    case GreaterThanOrEqual(Literal(v, _), a) if attrName(a).isDefined =>
      overlap(f, attrName(a).get, v, -1, strict = false)
    case In(a, vs) if attrName(a).isDefined && vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists { case Literal(v, _) =>
        overlap(f, attrName(a).get, v, 0, strict = false) &&
          bloomMayContain(f, attrName(a).get, v)
      }
    // an UNKNOWN null count (None) keeps the file in both directions
    case IsNull(a) if attrName(a).isDefined =>
      f.stats.get(attrName(a).get).forall(_.nullCount.forall(_ > 0))
    case IsNotNull(a) if attrName(a).isDefined =>
      f.stats.get(attrName(a).get).forall(_.nullCount.forall(_ < f.rows))
    case _ => true
  }

  // --------------------------------------------------------- operations
  private def emptyDf(spark: SparkSession, ddl: String): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType.fromDDL(ddl))

  /** File reads report every column nullable (Spark file sources
    * force nullability on read) — mirror that so a schema-driven read
    * is plan-identical to today's plain parquet read.
    */
  private def nullable(t: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType =
    t match {
      case s: StructType =>
        StructType(s.fields.map(f => f.copy(dataType = nullable(f.dataType), nullable = true)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = nullable(a.elementType), containsNull = true)
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = nullable(m.valueType), valueContainsNull = true)
      case other => other
    }

  private def schemaRead(spark: SparkSession, ddl: String) =
    if (ddl.isEmpty) spark.read
    else spark.read.schema(nullable(StructType.fromDDL(ddl)).asInstanceOf[StructType])

  /** Version 0: schema + initial data. `txn` rides the same commit
    * (watermark + data atomically — the maintained-view contract).
    */
  def create(spark: SparkSession, df: DataFrame, table: String,
             bloomCols: Seq[String] = Nil, txn: Option[(String, Long)] = None): Long = {
    val adds = stageWrite(spark, df, table, bloomCols)
    commit(table, 0L, CommitInfo("create") +: Meta(df.schema.toDDL) +:
      (txn.map { case (a, v) => SetTxn(a, v) }.toSeq ++ adds.map(Add)))
    0L
  }

  /** Blind append — never conflicts logically, so commit races just
    * retry at the next version. The frame's schema must match the
    * table's (fail fast; schema evolution goes through `overwrite`,
    * which records the new schema in the log).
    */
  def append(spark: SparkSession, df: DataFrame, table: String,
             bloomCols: Seq[String] = Nil): Long = {
    val expected = snapshot(table).schemaDdl
    require(expected.isEmpty || df.schema.toDDL == expected,
      s"txlog: append schema '${df.schema.toDDL}' != table schema '$expected' " +
        "(schema evolution goes through overwrite)")
    val adds = stageWrite(spark, df, table, bloomCols)
    commitWithRebase(table, snapshot(table).version + 1,
      CommitInfo("append") +: adds.map(Add), Set.empty, "append")
  }

  /** ADDITIVE schema evolution as a METADATA-ONLY commit: the new
    * nullable column(s) are appended to the table schema; files
    * already on disk are untouched and read back with nulls in the
    * new positions (the snapshot schema drives every read). This is
    * the one schema change a 100 TB table can afford — anything else
    * (type change, drop, rename) still goes through `overwrite`,
    * which rewrites the data under the new schema.
    */
  def addColumn(table: String, colDdl: String): Long = {
    val snap = snapshot(table)
    val add = StructType.fromDDL(colDdl)
    val cur = StructType.fromDDL(snap.schemaDdl)
    require(add.fields.nonEmpty, s"txlog: empty column DDL '$colDdl'")
    require(add.forall(_.nullable),
      s"txlog: added columns must be nullable (existing rows have no value): '$colDdl'")
    val dup = add.fieldNames.toSet.intersect(cur.fieldNames.toSet)
    require(dup.isEmpty, s"txlog: column(s) ${dup.mkString(", ")} already exist")
    val ddl = StructType(cur.fields ++ add.fields).toDDL
    commitWithRebase(table, snap.version + 1,
      Seq(CommitInfo("add-column"), Meta(ddl)), Set.empty, "add-column")
  }

  /** Replace the whole table contents (schema may change). `txn`
    * rides the same commit (watermark + data atomically).
    */
  def overwrite(spark: SparkSession, df: DataFrame, table: String,
                txn: Option[(String, Long)] = None): Long = {
    val snap = snapshot(table)
    val adds = stageWrite(spark, df, table)
    commitWithRebase(table, snap.version + 1,
      CommitInfo("overwrite") +: Meta(df.schema.toDDL) +:
        (txn.map { case (a, w) => SetTxn(a, w) }.toSeq ++
          snap.livePaths.map(Remove) ++ adds.map(Add)),
      Set.empty, "overwrite", exclusive = true)
  }

  /** Rows of `paths` with each file's deletion vector applied — the
    * ONE read path every consumer shares (plain reads, pruned reads,
    * rewrites, compaction, clustering, the change feed). Files
    * without a DV stream straight through; files with one anti-join
    * their hidden (file, pos) rows on parquet row indexes — a keyed
    * join sized by the hidden-row count, never the table.
    */
  private def readEffective(spark: SparkSession, table: String, snap: Snapshot,
                            paths: Seq[String], schemaDdl: Option[String] = None): DataFrame = {
    val ddl = schemaDdl.getOrElse(snap.schemaDdl)
    if (paths.isEmpty) return emptyDf(spark, ddl)
    // the SNAPSHOT schema drives the read (nullable, matching what a
    // plain parquet read reports): files written before an additive
    // schema evolution lack the new columns and surface them as nulls
    val base = schemaRead(spark, ddl).parquet(paths.map(dataPath(table, _)): _*)
    val withDv = paths.filter(snap.dvs.contains)
    if (withDv.isEmpty) base
    else {
      import org.apache.spark.sql.functions.col
      val dvFiles = withDv.map(p => snap.dvs(p).dvPath).distinct
      val dv = Tables.open(spark, dvFiles.map(dataPath(table, _)): _*)
        .filter(col("file").isin(withDv: _*))
        .select(col("file").as("_dv_f"), col("pos").as("_dv_i"))
      val cols = base.columns.toSeq
      base
        .withColumn("_dv_f", col("_metadata.file_name"))
        .withColumn("_dv_i", col("_metadata.row_index"))
        .join(dv, Seq("_dv_f", "_dv_i"), "left_anti")
        .select(cols.map(col): _*)
    }
  }

  /** Delete rows matching `cond` WITHOUT rewriting any data file: the
    * matching rows' (file, row_index) positions are written as a
    * parquet DELETION VECTOR sidecar (merged with any existing vector
    * — positions of already-hidden rows can't re-match because the
    * match runs on the effective view) and one `dv` action per
    * touched file lands in the log. At 100 TB this is the difference
    * between a point delete costing the matched rows and costing a
    * rewrite of every touched gigabyte; compaction later materializes
    * vectors away.
    */
  def deleteWhereDV(spark: SparkSession, table: String, cond: Column): Long = {
    import org.apache.spark.sql.functions.col
    val snap = snapshot(table)
    val expr = Shims.expression(cond)
    val victims = snap.adds.values.filter(f => mayMatch(f, expr)).map(_.path).toSeq.sorted
    val v = snap.version + 1
    if (victims.isEmpty)
      return commitWithRebase(table, v, Seq(CommitInfo("delete-dv")), Set.empty, "delete-dv")
    val base = schemaRead(spark, snap.schemaDdl)
      .parquet(victims.map(dataPath(table, _)): _*)
      .withColumn("_f", col("_metadata.file_name"))
      .withColumn("_i", col("_metadata.row_index"))
    val oldDvFiles = victims.flatMap(p => snap.dvs.get(p).map(_.dvPath)).distinct
    val oldPos =
      if (oldDvFiles.isEmpty) None
      else Some(Tables.open(spark, oldDvFiles.map(dataPath(table, _)): _*)
        .filter(col("file").isin(victims: _*))
        .select(col("file"), col("pos")))
    // match on the EFFECTIVE view (already-hidden rows can't re-match)
    val effective = oldPos match {
      case None => base
      case Some(dv) => base.join(
        dv.select(col("file").as("_f"), col("pos").as("_i")), Seq("_f", "_i"), "left_anti")
    }
    val newPos = effective.filter(cond).select(col("_f").as("file"), col("_i").as("pos"))
    val allPos = oldPos.fold(newPos)(newPos.unionByName(_))
    // the vector is a parquet DIRECTORY written at natural parallelism
    // — a predicate hiding billions of rows must not funnel through
    // one writer task
    val dvDir = Paths.get(table, "_dv")
    Files.createDirectories(dvDir)
    val dvName = "_dv/" + java.util.UUID.randomUUID().toString
    val staging = Files.createTempDirectory(dvDir, ".staging-")
    allPos.write.mode("overwrite").parquet(staging.toString)
    val dvDst = Paths.get(table).resolve(dvName)
    Files.move(staging, dvDst)
    // anchor the staged-grace clock at move-in (see stageWrite)
    Files.setLastModifiedTime(dvDst,
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis()))
    // per-file hidden counts: one row per touched file (model-sized)
    val counts = Tables.open(spark, dataPath(table, dvName))
      .groupBy("file").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val dvActs = victims.flatMap(p => counts.get(p).map(n => Dv(p, dvName, n)))
    commitWithRebase(table, v, CommitInfo("delete-dv") +: dvActs,
      victims.toSet, "delete-dv")
  }

  /** Delete rows matching `cond`. Only files whose statistics overlap
    * the predicate are rewritten; every other file is untouched (its
    * add-action — and its bytes — survive verbatim). Conflicts throw:
    * a row-level rewrite must be re-planned against the new snapshot.
    */
  def deleteWhere(spark: SparkSession, table: String, cond: Column): Long = {
    val snap = snapshot(table)
    val expr = Shims.expression(cond)
    val victims = snap.adds.values.filter(f => mayMatch(f, expr)).map(_.path).toSeq.sorted
    val adds =
      if (victims.isEmpty) Seq.empty
      else {
        val survivors = readEffective(spark, table, snap, victims)
          .filter(not(coalesce(cond, lit(false))))
        stageWrite(spark, survivors, table)
      }
    commitWithRebase(table, snap.version + 1,
      CommitInfo("delete") +: (victims.map(Remove) ++ adds.map(Add)),
      victims.toSet, "delete")
  }

  /** Merge `source` into the table on equality of `key` (upsert:
    * matched target rows are replaced, unmatched source rows appended).
    * Source keys must be unique and non-null. Candidate files are
    * selected by key-range overlap with the source's [min, max] key —
    * at scale the rewrite touches only the keyspace the source spans.
    */
  def upsert(spark: SparkSession, source: DataFrame, table: String, key: String): Long = {
    val snap = snapshot(table)
    import org.apache.spark.sql.functions.{col, max => smax, min => smin}
    // r18 (guide §2.4): `source` feeds the key-range agg, the
    // anti-join probe and the merged union — three executions of the
    // caller's arbitrary source plan without a boundary (exchange
    // reuse can't dedupe them: each prunes different columns). One
    // eager cut runs that plan once; the boundary is churn-sized (the
    // batch being upserted, about to be written anyway), never
    // table-sized.
    graft.Exec.scoped { b =>
      val src = b.cut(source)
      val range = src.agg(smin(col(key)), smax(col(key))).head // two scalars
      val candExpr =
        if (range.isNullAt(0)) None
        else Some(Shims.expression(col(key) >= lit(range.get(0)) && col(key) <= lit(range.get(1))))
      val victims = candExpr match {
        case None => Seq.empty[String]
        case Some(e) => snap.adds.values.filter(f => mayMatch(f, e)).map(_.path).toSeq.sorted
      }
      val merged =
        if (victims.isEmpty) src
        else readEffective(spark, table, snap, victims)
          .join(src.select(col(key)), Seq(key), "left_anti")
          .unionByName(src)
      val adds = stageWrite(spark, merged, table)
      commitWithRebase(table, snap.version + 1,
        CommitInfo("upsert") +: (victims.map(Remove) ++ adds.map(Add)),
        victims.toSet, "upsert")
    }
  }

  /** Bin-pack files smaller than `smallBytes` into rewritten groups —
    * the OPTIMIZE face of the log. Contents are unchanged (the oracle
    * hash across a compaction certifies that); file count shrinks.
    */
  def compact(spark: SparkSession, table: String, smallBytes: Long): Long = {
    val snap = snapshot(table)
    val small = snap.adds.values
      .filter(f => f.bytes < smallBytes || snap.dvs.contains(f.path)).toSeq.sortBy(_.path)
    if (small.size < 2 && !small.exists(f => snap.dvs.contains(f.path)))
      return snap.version
    // target one output file per `smallBytes` of input — compacting
    // ten thousand small files must not funnel through one writer
    val nOut = math.max(1L, (small.map(_.bytes).sum + smallBytes - 1) / smallBytes).toInt
    val grouped = readEffective(spark, table, snap, small.map(_.path))
      .coalesce(nOut)
    val adds = stageWrite(spark, grouped, table)
    commitWithRebase(table, snap.version + 1,
      CommitInfo("compact") +: (small.map(f => Remove(f.path)) ++ adds.map(Add)),
      small.map(_.path).toSet, "compact")
  }

  /** Z-ORDER the whole table on two numeric columns (the OPTIMIZE
    * ZORDER face): both dimensions are min-max mapped to 16 bits
    * (4-scalar driver fetch), interleaved with ZOrderLayout's Morton
    * expression, and the table is rewritten as `nFiles` CONTIGUOUS
    * z-ranges (repartitionByRange + within-partition z sort). After
    * clustering, each file's min/max stats on BOTH columns collapse
    * to its z-cells' footprint, so two-dimensional box predicates
    * prune on the ordinary stats path — the multi-column locality
    * min/max statistics alone can never give on a one-dimensional
    * sort. Contents unchanged (adds/removes only — certified by any
    * oracle hash across the call).
    */
  def cluster(spark: SparkSession, table: String, xCol: String, yCol: String,
              nFiles: Int, bloomCols: Seq[String] = Nil): Long = {
    require(nFiles >= 1, s"txlog: nFiles $nFiles")
    val snap = snapshot(table)
    if (snap.adds.isEmpty) return snap.version
    import org.apache.spark.sql.functions.{col, floor, max => smax, min => smin}
    val all = readEffective(spark, table, snap, snap.livePaths)
    val r = all.agg(smin(col(xCol)), smax(col(xCol)), smin(col(yCol)), smax(col(yCol))).head
    // every remaining row hidden by deletion vectors → nothing to cluster
    if (r.isNullAt(0) || r.isNullAt(2)) return snap.version
    def bound(i: Int): Long = r.get(i) match {
      case l: Long => l
      case n: Number => n.longValue
    }
    val (xLo, xHi, yLo, yHi) = (bound(0), bound(1), bound(2), bound(3))
    def norm16(c: Column, lo: Long, hi: Long): Column =
      if (hi <= lo) lit(0L)
      else floor(((c.cast("long") - lit(lo)) * lit(65535.0)) / lit((hi - lo).toDouble)).cast("long")
    val z = ZOrderLayout.morton2(norm16(col(xCol), xLo, xHi), norm16(col(yCol), yLo, yHi))
    val clustered = all.withColumn("_z", z)
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .drop("_z")
    val adds = stageWrite(spark, clustered, table, bloomCols)
    commitWithRebase(table, snap.version + 1,
      CommitInfo("cluster") +: (snap.livePaths.map(Remove) ++ adds.map(Add)),
      snap.livePaths.toSet, "cluster")
  }

  /** The table as a DataFrame at `asOf` (default: latest). Plain
    * parquet reads over the live file list — pushdown, column pruning
    * and vectorized scans all intact.
    */
  def read(spark: SparkSession, table: String, asOf: Option[Long] = None): DataFrame = {
    val snap = snapshot(table, asOf)
    readEffective(spark, table, snap, snap.livePaths)
  }

  /** CHANGE DATA FEED between two versions: row-level inserts and
    * deletes derived from the FILE diff alone — only files added or
    * removed between the versions are read (an update surfaces as its
    * delete + insert pair; rows a rewrite merely moved between files
    * carry identical values and cancel in the multiset difference).
    * Cost is proportional to the data the interval actually touched,
    * never the table — the property that makes a downstream
    * incremental consumer (index maintenance, replication, cache
    * invalidation) viable against a 100 TB table.
    */
  def changes(spark: SparkSession, table: String, fromVersion: Long,
              toVersion: Long): DataFrame = {
    require(fromVersion <= toVersion, s"txlog: bad interval $fromVersion..$toVersion")
    val a = snapshot(table, Some(fromVersion))
    val b = snapshot(table, Some(toVersion))
    // file identity includes its deletion vector: a DV change makes
    // the file's EFFECTIVE content part of both sides' diff sets
    def ident(snap: Snapshot, p: String) = (p, snap.dvs.get(p))
    val removed = a.adds.keySet.filter(p =>
      !b.adds.contains(p) || ident(a, p) != ident(b, p)).toSeq.sorted
    val added = b.adds.keySet.filter(p =>
      !a.adds.contains(p) || ident(a, p) != ident(b, p)).toSeq.sorted
    // both sides read under the TO-version schema, so a feed spanning
    // an additive schema evolution still lines up column-for-column.
    // r18 (guide §2.3/§2.4): ONE signed aggregate computes both
    // directions of the multiset difference. The previous
    // ins = new.exceptAll(old) / del = old.exceptAll(new) pair is
    // rewritten by Catalyst into TWO independent union+aggregate+
    // replicate plans (RewriteExceptAll), so every diff-side file was
    // read twice and the churn-sized rows shuffled twice; summing a
    // +1/-1 tag per side in one aggregate reads each side once and
    // shuffles once, then emits sign(d) copies — the same multiset
    // row for row. (An eager localCheckpoint per side was probed
    // first and REGRESSED 36-46% on q157: materializing the sides
    // costs more than the parquet re-scan it saves.)
    val newSide = readEffective(spark, table, b, added)
      .withColumn("_sgn", lit(1L))
    val oldSide = readEffective(spark, table, a, removed, Some(b.schemaDdl))
      .withColumn("_sgn", lit(-1L))
    import org.apache.spark.sql.functions.{abs, array_repeat, col, explode, sum, when}
    val cols = newSide.columns.toSeq.filterNot(_ == "_sgn")
    newSide.unionByName(oldSide)
      .groupBy(cols.map(col): _*).agg(sum(col("_sgn")).as("_d"))
      .filter(col("_d") =!= 0L)
      .select(cols.map(col) :+ explode(array_repeat(
        when(col("_d") > 0, lit("insert")).otherwise(lit("delete")),
        abs(col("_d")).cast("int"))).as("_change"): _*)
  }

  /** Stats-pruned read: only files whose min/max/null statistics might
    * satisfy `cond` are opened; the predicate is still applied to the
    * surviving rows (stats pruning is a superset guarantee, never a
    * substitute for the filter). Returns (rows, filesScanned,
    * filesTotal) so callers — and the oracle — can assert the pruning.
    */
  def prunedRead(spark: SparkSession, table: String, cond: Column,
                 asOf: Option[Long] = None): (DataFrame, Int, Int) = {
    val snap = snapshot(table, asOf)
    val expr = Shims.expression(cond)
    val live = snap.adds.values.toSeq.sortBy(_.path)
    val hit = live.filter(f => mayMatch(f, expr))
    val df =
      if (hit.isEmpty) emptyDf(spark, snap.schemaDdl)
      else readEffective(spark, table, snap, hit.map(_.path)).filter(cond)
    (df, hit.size, live.size)
  }

  /** Exactly-once streaming commit: the `txn` watermark for `app` is
    * written atomically WITH the batch's adds, so a replayed batch
    * (restart, retry) is recognized and skipped. Returns false when the
    * batch was already committed.
    */
  def streamCommit(spark: SparkSession, df: DataFrame, table: String,
                   app: String, batchId: Long,
                   bloomCols: Seq[String] = Nil): Boolean = {
    val snap0 = snapshot(table)
    if (snap0.txns.get(app).exists(_ >= batchId)) return false
    val adds = stageWrite(spark, df, table, bloomCols)
    def dropStaged(): Unit =
      adds.foreach(a => Files.deleteIfExists(Paths.get(dataPath(table, a.path))))
    var v = snap0.version + 1
    var attempts = 0
    while (true) {
      try {
        commit(table, v, Seq(CommitInfo("stream"), SetTxn(app, batchId)) ++ adds.map(Add))
        return true
      } catch {
        case _: CommitConflictException =>
          // rebase: the staged files stay valid across interleaved
          // commits unless the schema changed or OUR OWN app already
          // committed this batch (a racing replay)
          attempts += 1
          require(attempts < 1000, s"txlog: stream commit starved at $table")
          val latest = latestVersion(table).getOrElse(v)
          val inter = (v to latest).flatMap(actionsOf(table, _))
          if (inter.exists { case SetTxn(a, w) => a == app && w >= batchId; case _ => false }) {
            dropStaged(); return false
          }
          if (inter.exists { case Meta(_) => true; case _ => false }) {
            dropStaged()
            throw new ConcurrentWriteException(table, "stream", "table schema changed")
          }
          v = latest + 1
      }
    }
    false
  }

  /** RESTORE the table to an earlier version AS A NEW COMMIT: the
    * target version's add/dv state replaces the current one going
    * forward while the full history (including the mistake being
    * rolled back) stays intact — time travel still reaches both.
    * Data files are immutable and never vacuumed by this path, so
    * restore is a metadata-only operation however large the table.
    */
  def restore(spark: SparkSession, table: String, toVersion: Long): Long = {
    val cur = snapshot(table)
    val tgt = snapshot(table, Some(toVersion))
    val v = cur.version + 1
    val acts = Seq(CommitInfo("restore"), Meta(tgt.schemaDdl)) ++
      cur.livePaths.map(Remove) ++
      tgt.adds.toSeq.sortBy(_._1).map { case (_, f) => Add(f) } ++
      tgt.dvs.toSeq.sortBy(_._1).map { case (p, d) => Dv(p, d.dvPath, d.hidden) }
    commitWithRebase(table, v, acts, Set.empty, "restore", exclusive = true)
  }

  /** Retention-aware vacuum: delete data files and DV sidecars not
    * referenced by ANY of the newest `keepVersions` snapshots — time
    * travel inside the retention window survives, older versions
    * become unreadable (their log entries remain for audit). This is
    * the version-count analogue of the usual time-based retention
    * (the log carries no wall-clock by design — determinism).
    */
  def vacuumKeeping(table: String, keepVersions: Int): Seq[String] = {
    require(keepVersions >= 1, s"txlog: keepVersions $keepVersions")
    val versions = listVersions(table, ".json").sorted.takeRight(keepVersions)
    val snaps = versions.map(v => snapshot(table, Some(v)))
    val live = snaps.flatMap(_.adds.keySet).toSet
    val liveDvs = snaps.flatMap(_.dvs.values.map(_.dvPath)).toSet
    sweep(table, live, liveDvs)
  }

  /** Delete data files not referenced by the CURRENT snapshot and drop
    * superseded log versions' time-travel ability with them. Returns
    * the deleted file names (sorted) — the caller owns the decision;
    * [[vacuumKeeping]] is the retention-window form.
    */
  def vacuum(table: String): Seq[String] = {
    val snap = snapshot(table)
    sweep(table, snap.adds.keySet, snap.dvs.values.map(_.dvPath).toSet)
  }

  /** Grace window for files the log has NEVER referenced: stageWrite
    * moves data files into the table directory BEFORE the commit that
    * adds them, so a young unreferenced file may belong to an
    * in-flight writer — deleting it would make that writer's commit
    * reference missing bytes (Delta guards the same window with its
    * retention check). Files a log version HAS referenced carry no
    * such risk: they are deletable the moment they fall outside the
    * keep set, whatever their age.
    */
  def stagedGraceMs: Long =
    // toLongOption, not toLong: a malformed knob value must not turn
    // vacuum()/sweep() into a maintenance-path crash — fall back to
    // the 20-minute default.
    sys.props.get("graft.txlog.stagedGraceMs").flatMap(_.toLongOption)
      .getOrElse(20L * 60 * 1000)

  /** Every data file / DV path any log version or checkpoint has ever
    * referenced — the "committed at some point" set sweep() consults
    * to tell superseded files from in-flight staged ones. A torn or
    * corrupt sidecar (crash mid-checkpoint, a racing writer's temp)
    * is SKIPPED, not fatal — the same degrade-don't-brick contract as
    * snapshot(); missing references only make the sweep more
    * conservative (an unreferenced-looking file still has the staged
    * grace window, and liveness comes from snapshot(), not here).
    */
  private def everReferenced(table: String): (Set[String], Set[String]) = {
    val adds = scala.collection.mutable.HashSet.empty[String]
    val dvs = scala.collection.mutable.HashSet.empty[String]
    val dir = logDir(table)
    listNames(dir).filter(n => n.endsWith(".json") && !n.startsWith(".tmp-")).foreach { n =>
      try Files.readAllLines(dir.resolve(n)).asScala.filter(_.nonEmpty).foreach { l =>
        parseAction(l) match {
          case Add(f) => adds += f.path
          case Dv(_, dvp, _) => dvs += dvp
          case _ => ()
        }
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    (adds.toSet, dvs.toSet)
  }

  private def sweep(table: String, live: Set[String], liveDvs: Set[String]): Seq[String] = {
    val tableDir = Paths.get(table)
    val (everAdds, everDvs) = everReferenced(table)
    val youngest = System.currentTimeMillis() - stagedGraceMs
    def maybeStaged(p: Path, ever: Boolean): Boolean =
      !ever && Files.getLastModifiedTime(p).toMillis >= youngest
    val victims = listNames(tableDir)
      .filter(n => n.endsWith(".parquet") && !live.contains(n) &&
        !maybeStaged(tableDir.resolve(n), everAdds.contains(n)))
      .sorted
    victims.foreach(n => Files.delete(tableDir.resolve(n)))
    val dvVictims = listNames(tableDir.resolve("_dv"))
      .map("_dv/" + _)
      .filterNot(n => liveDvs.contains(n) || n.contains(".staging-") ||
        maybeStaged(tableDir.resolve(n), everDvs.contains(n)))
      .sorted
    dvVictims.foreach { n =>
      val w = Files.walk(tableDir.resolve(n))
      val all = try w.iterator.asScala.toSeq finally w.close()
      all.reverse.foreach(Files.deleteIfExists(_))
    }
    victims ++ dvVictims
  }
}
