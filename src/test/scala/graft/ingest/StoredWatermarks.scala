package graft.ingest

import graft.model.MalformedManifest
import graft.snapshot.SnapshotStore

/** The watermarks the served generation records — what the next sync
  * cycle resumes from. Empty when the pointer is absent or torn: the
  * cycle treats both the same way (a full delta scan whose publish
  * records them again), so callers that read around a torn op can too.
  */
object StoredWatermarks {
  def apply(store: SnapshotStore): Map[String, String] =
    try store.readCurrentManifest().map(SyncManager.watermarksOf)
      .getOrElse(Map.empty)
    catch { case _: MalformedManifest => Map.empty }
}
