package graft.lake

import java.nio.file.{Files, Path, StandardCopyOption}

/** Every storage side effect a table root can have, in one place: where
  * an artifact lands, how a checkpoint is mirrored, how a planned read
  * finds its files, how a commit slot is arbitrated. The local
  * filesystem is the default ([[LakeStore.Local]]); a GraftS3 mount or
  * a spec's fault injector [[LakeStore.bind binds]] another store on a
  * root, and [[LakeStore.at]] resolves a path to the store bound at its
  * longest root prefix — Delta Lake's per-storage-system LogStore
  * (VLDB 2020), keyed by table root instead of URI scheme.
  *
  * Table roots a store is handed are absolute and normalized; artifact
  * and log paths arrive as the table built them. */
trait LakeStore {
  /** Place one immutable, uniquely-named artifact (data / delete /
    * replace-generation file) at its final path. Correctness never
    * depends on rename atomicity: every name is unique and
    * unreferenced until the commit JSON wins its slot. */
  def place(src: Path, dst: Path): Unit

  /** A checkpoint-parquet DIRECTORY was placed by a WINNING atomic move
    * (losers of the identical-writer race never fire it). */
  def checkpointPlaced(dir: Path): Unit

  /** A planned read is about to open exactly these table-relative
    * data/delete files: make the locally missing ones present. */
  def hydrate(root: Path, rels: Seq[String]): Unit

  /** Live data files under `root` may be locally absent by design (a
    * lazy follower): read paths that cannot [[hydrate]] must refuse. */
  def isLazyRoot(root: Path): Boolean

  /** The subset of `rels` a planned read should open IN PLACE, mapped
    * to its remote URI (a `grafts3://` path served over ranged GETs);
    * the rest read locally. */
  def remoteReads(root: Path, rels: Seq[String]): Map[String, String]

  /** Hadoop conf entries executor JVMs need to open the URIs
    * [[remoteReads]] mints for `root`. */
  def remoteReadConf(root: Path): Seq[(String, String)]

  /** Direct-to-store staging for every staged parquet write under
    * `root`, or None to stage locally. */
  def remoteStage(root: Path): Option[LakeStore.RemoteStage]

  /** The CDC source is about to read `root`'s log head for a poll. */
  def beforeLogPoll(root: Path): Unit

  /** Best-effort pull of one table-relative LOG object that can land
    * remotely with no new commit slot (a crashed seal's txn decision).
    * Remote absence is a valid state, never an error. */
  def pullLogObject(root: Path, rel: String): Unit

  /** A placed artifact is being deleted WITHOUT ever being committed
    * (lost-race cleanup, orphan sweep). */
  def artifactDiscarded(p: Path): Unit

  /** Put-if-absent arbitration of a commit-plane write before the local
    * file materializes; a loser throws IllegalStateException, the same
    * as the local createLink race. */
  def arbitrate(target: Path, content: String): Unit
}

object LakeStore {

  /** Direct-to-store staging for one table root: task output streams
    * to the store as multipart parts, footer stats read back over
    * ranged GETs, and each committed artifact is published by a
    * SERVER-SIDE copy — a data file never lands on any local disk. */
  private[graft] trait RemoteStage {
    /** Fresh unique staging directory URI for ONE write op. */
    def newStageUri(): String
    /** Hadoop-conf entries the write job and the footer reads need to
      * resolve the staging scheme on every JVM (filesystem impl,
      * client conf, committer algorithm). */
    def conf: Seq[(String, String)]
    /** Staged files after the write job: (path relative to the stage
      * URI, size in bytes). */
    def listStage(uri: String): Seq[(String, Long)]
    /** Absolute URI of one staged file (footer stats reads). */
    def stagedUri(uri: String, rel: String): String
    /** Publish one staged object at its final table-relative path:
      * server-side copy, then staged-key delete. */
    def finalizeTo(uri: String, rel: String, tableRel: String): Unit
    /** Drop one staged object (an empty split). */
    def dropStaged(uri: String, rel: String): Unit
    /** Drop the whole stage (job markers, leftovers, aborts). */
    def discard(uri: String): Unit
  }

  /** The local filesystem: atomic-move placement, every file local,
    * the createLink race as the only arbiter. */
  object Local extends LakeStore {
    def place(src: Path, dst: Path): Unit =
      Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
    def checkpointPlaced(dir: Path): Unit = ()
    def hydrate(root: Path, rels: Seq[String]): Unit = ()
    def isLazyRoot(root: Path): Boolean = false
    def remoteReads(root: Path, rels: Seq[String]): Map[String, String] = Map.empty
    def remoteReadConf(root: Path): Seq[(String, String)] = Seq.empty
    def remoteStage(root: Path): Option[RemoteStage] = None
    def beforeLogPoll(root: Path): Unit = ()
    def pullLogObject(root: Path, rel: String): Unit = ()
    def artifactDiscarded(p: Path): Unit = ()
    def arbitrate(target: Path, content: String): Unit = ()
  }

  /** Passes every operation on to the store `next` picks for its path. */
  abstract class Forward extends LakeStore {
    protected def next(p: Path): LakeStore
    def place(src: Path, dst: Path): Unit = next(dst).place(src, dst)
    def checkpointPlaced(dir: Path): Unit = next(dir).checkpointPlaced(dir)
    def hydrate(root: Path, rels: Seq[String]): Unit = next(root).hydrate(root, rels)
    def isLazyRoot(root: Path): Boolean = next(root).isLazyRoot(root)
    def remoteReads(root: Path, rels: Seq[String]): Map[String, String] =
      next(root).remoteReads(root, rels)
    def remoteReadConf(root: Path): Seq[(String, String)] = next(root).remoteReadConf(root)
    def remoteStage(root: Path): Option[RemoteStage] = next(root).remoteStage(root)
    def beforeLogPoll(root: Path): Unit = next(root).beforeLogPoll(root)
    def pullLogObject(root: Path, rel: String): Unit = next(root).pullLogObject(root, rel)
    def artifactDiscarded(p: Path): Unit = next(p).artifactDiscarded(p)
    def arbitrate(target: Path, content: String): Unit = next(target).arbitrate(target, content)
  }

  /** A store that passes every operation to `below`; bindings extend it
    * and override the operations they serve. */
  class Layer(below: LakeStore) extends Forward {
    protected def next(p: Path): LakeStore = below
  }

  private final class Binding(val root: Path, val seq: Long,
      make: LakeStore => LakeStore) {
    val depth: Int = root.getNameCount
    /** A shorter root, or an equal root bound earlier. */
    def ranksBelow(b: Binding): Boolean =
      depth < b.depth || (depth == b.depth && seq < b.seq)
    // `below` resolves at call time, so a binding closed under this one
    // (in any order) simply stops being found
    val store: LakeStore = make(new Forward {
      protected def next(p: Path): LakeStore = resolve(p.toAbsolutePath.normalize, Binding.this)
    })
  }

  /** Live bindings in rank order: depth, then bind order. Replaced
    * wholesale under the object monitor, read lock-free. */
  @volatile private var bindings: Array[Binding] = Array.empty
  private var seq = 0L

  /** Bind a store on `root`: `make` receives the store the shorter (or
    * older equal-root) bindings resolve `root` to — [[Local]] when there
    * are none — and returns the store to serve under `root`. Closing
    * the handle removes exactly this binding, in any order. */
  def bind(root: Path)(make: LakeStore => LakeStore): AutoCloseable = synchronized {
    seq += 1
    val b = new Binding(root.toAbsolutePath.normalize, seq, make)
    bindings = (bindings :+ b).sortBy(x => (x.depth, x.seq))
    () => LakeStore.synchronized { bindings = bindings.filterNot(_ eq b) }
  }

  /** The store bound at the longest component-wise root prefix of
    * `path` (`/x/t1` never covers `/x/t10`); the newest on equal
    * roots; [[Local]] when none is. */
  def at(path: Path): LakeStore =
    if (bindings.isEmpty) Local else resolve(path.toAbsolutePath.normalize, null)

  /** Stores bound at or under `root`, each with its own root. */
  private[lake] def within(root: Path): Seq[(Path, LakeStore)] = {
    val r = root.toAbsolutePath.normalize
    bindings.toSeq.collect { case b if b.root.startsWith(r) => (b.root, b.store) }
  }

  /** Highest-ranked binding covering `p`, among those ranked under
    * `cap` (all when null). */
  private def resolve(p: Path, cap: Binding): LakeStore = {
    val bs = bindings
    var i = bs.length - 1
    while (i >= 0) {
      val b = bs(i)
      if ((cap == null || b.ranksBelow(cap)) && p.startsWith(b.root)) return b.store
      i -= 1
    }
    Local
  }
}
