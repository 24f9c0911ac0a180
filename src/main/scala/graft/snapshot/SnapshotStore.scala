package graft.snapshot

import java.nio.charset.StandardCharsets
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.model.Manifest

/** Layout + filesystem plumbing shared by writer/reader/retention.
  *
  * ```
  * <root>/history/<yyyyMMdd_HHmmssSSS>/<table>/   parquet snapshot gen
  * <root>/history/<key>/manifest.json             per-gen manifest
  * <root>/current/manifest.json                   the publish pointer
  * ```
  *
  * All paths go through the Hadoop FileSystem API so the same code runs
  * against file://, hdfs:// or s3a:// — the reference's S3 layout
  * (etl-service/src/s3_uploader.py:41-94) with the manifest swap as the
  * atomic publish instead of a non-atomic DB-file overwrite.
  */
// not final: tests inject store-level failures (an NPE-throwing
// readCurrentManifest) to pin the publisher's failure taxonomy
class SnapshotStore(val spark: SparkSession, val root: String) {
  val rootPath = new Path(root)
  val fs: FileSystem = rootPath.getFileSystem(
    spark.sessionState.newHadoopConf())

  def historyDir = new Path(rootPath, "history")
  def genDir(key: String) = new Path(historyDir, key)
  def tableDir(key: String, table: String) = new Path(genDir(key), table)
  def currentManifestPath = new Path(new Path(rootPath, "current"), "manifest.json")

  def writeString(path: Path, content: String): Unit = {
    fs.mkdirs(path.getParent)
    // write-temp-then-rename: closest-to-atomic swap the FS offers
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(path)) fs.delete(path, false)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"rename $tmp -> $path failed")
  }

  def readString(path: Path): Option[String] =
    if (!fs.exists(path)) None
    else {
      val in = fs.open(path)
      try Some(new String(in.readAllBytes(), StandardCharsets.UTF_8))
      finally in.close()
    }

  /** Post-parse guard on manifests read from SHARED storage: the
    * version and table names flow straight into Path construction
    * (`genDir`/`tableDir`) and temp-view names, so a forged or corrupt
    * pointer carrying `"version": "../../x"` would walk the reader —
    * or a MERGE publisher's previous-generation read — outside the
    * store root. A writer only ever produces `keyFor`-shaped versions
    * and plain table identifiers, so rejecting anything else costs
    * nothing and classifies as [[graft.model.MalformedManifest]], the
    * existing torn-pointer taxonomy: readers degrade/503, publishers
    * bootstrap-and-heal, retention suspends. Defense in depth —
    * whoever can write the pointer can usually write data too, but
    * the read side must not be what makes a scribbled pointer
    * dangerous.
    */
  private def validated(m: Manifest): Manifest = {
    if (!SnapshotStore.GenKeyRe.matches(m.version))
      throw new graft.model.MalformedManifest(
        s"manifest version '${m.version}' is not a generation key " +
          "(yyyyMMdd_HHmmssSSS) — refusing to follow it into a path")
    m.tables.keys.foreach { t =>
      if (t.isEmpty || t == "." || t == ".." ||
          t.exists(c => c == '/' || c == '\\' || c == '\u0000'))
        throw new graft.model.MalformedManifest(
          s"manifest table name '$t' is not a plain identifier — " +
            "refusing to follow it into a path")
    }
    m
  }

  /** Size guard on the manifest reads: a real manifest is a few KB;
    * `readString` slurps the whole object, so a foreign writer
    * scribbling gigabytes at the pointer path would OOM every reader
    * and publisher that probes it — an outage where the torn-pointer
    * taxonomy (degrade / 503 / heal) should apply instead. Checked
    * from file status, before any bytes move.
    */
  private def oversized(path: Path): Option[Long] =
    if (!fs.exists(path)) None
    else Some(fs.getFileStatus(path).getLen)
      .filter(_ > SnapshotStore.MaxManifestBytes)

  private def readManifestAt(path: Path): Option[Manifest] = {
    oversized(path).foreach(len =>
      throw new graft.model.MalformedManifest(
        s"manifest at $path is $len bytes — far above the " +
          s"${SnapshotStore.MaxManifestBytes} byte cap for a manifest;" +
          " a foreign writer scribbled here, refusing to load it"))
    readString(path).map(s => validated(Manifest.fromJson(s)))
  }

  def readCurrentManifest(): Option[Manifest] =
    readManifestAt(currentManifestPath)

  /** The per-generation manifest written alongside each snapshot. */
  def readGenerationManifest(key: String): Option[Manifest] =
    readManifestAt(new Path(genDir(key), "manifest.json"))

  def listGenerations(): Seq[String] =
    if (!fs.exists(historyDir)) Seq.empty
    else fs.listStatus(historyDir).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted

  /** Highest publisher epoch recorded ANYWHERE in the store: the publish
    * pointer (when parseable) plus every parseable per-generation
    * manifest. Generation manifests are written atomically BEFORE the
    * pointer swap ([[SnapshotWriter]] orders them), so a higher-epoch
    * publisher that has ever published here stays visible through
    * history even while the pointer itself is torn — the floor the
    * fence fallbacks need (a torn pointer must not read as "pre-epoch"
    * while a live higher-epoch publisher owns the root, or the fence
    * inverts). Torn artifacts are skipped; a store with no parseable
    * epoch anywhere is `None`. Cost: one listing + up to keepCount
    * small JSON reads — paid at deployment boot and on the rare
    * torn-pointer arm of the swap fence, never per query or per cycle.
    */
  def maxRecordedEpoch(): Option[Long] = {
    val pointer =
      try readCurrentManifest().map(_.publisherEpoch)
      catch { case _: graft.model.MalformedManifest => None }
    val gens = listGenerations().flatMap { k =>
      try readGenerationManifest(k).map(_.publisherEpoch)
      catch { case _: graft.model.MalformedManifest => None }
    }
    (pointer.toSeq ++ gens).reduceOption(_ max _)
  }
}

object SnapshotStore {
  private val KeyFmt = DateTimeFormatter.ofPattern("yyyyMMdd_HHmmssSSS")
    .withZone(ZoneOffset.UTC)

  /** `keyFor`'s exact shape — the only version a writer produces. */
  private val GenKeyRe = "^[0-9]{8}_[0-9]{9}$".r

  /** Manifests are a few KB; 16 MiB is generous slack for any
    * conceivable table count while still refusing a scribbled blob
    * before it is slurped into driver memory. */
  private val MaxManifestBytes: Long = 16L * 1024 * 1024

  /** Snapshot key format — reference s3_uploader.py:38 (ms added so
    * sub-second test cycles never collide). Lexicographic order ==
    * chronological order, so retention needs no LastModified probing.
    */
  def keyFor(instant: Instant): String = KeyFmt.format(instant)
}
