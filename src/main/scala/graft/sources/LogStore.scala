package graft.sources

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileSystem, Path}

/** The two storage primitives [[VersionedTable]]'s commit protocol
  * rests on, extracted behind one swappable seam — the same isolation
  * point the public table formats use (Delta's `LogStore` SPI,
  * Iceberg's `FileIO` + catalog commit): everything else in the
  * format (immutable data files, parquet checkpoints, vacuum) is
  * plain read/write/list and ports to any store unchanged, but these
  * two calls decide whether racing committers produce exactly one
  * winner and whether readers can ever observe a torn manifest.
  *
  *  - [[createExclusive]] — "put-if-absent" of an empty reservation
  *    marker. Exactly ONE of N concurrent callers of the same path
  *    may return true; everyone else must see false. This is the
  *    version-slot CAS behind optimistic concurrency.
  *  - [[publish]] — make `bytes` visible at `dst` atomically: a
  *    reader at ANY instant sees either the complete content or no
  *    file at all, never a prefix. Returns false when `dst` already
  *    exists (a lost race — never overwrites). This is the manifest
  *    publish that turns a prepared snapshot into the table's new
  *    current version.
  *
  * Filesystems that guarantee atomic rename + create-exclusive (HDFS,
  * POSIX) get both from [[HadoopLogStore]], the default. A plain
  * object store guarantees NEITHER (rename is copy+delete; puts
  * overwrite blindly) — there the correct implementation is a
  * CONDITIONAL PUT (S3 `If-None-Match: *`, GCS `ifGenerationMatch=0`,
  * Azure `If-None-Match`), which serves both primitives in one call:
  * [[SimulatedObjectStore]] models exactly that store shape
  * (conditional put available, rename/blind-put non-atomic), and
  * LogStoreSpec proves the protocol keeps exactly-one-winner on it
  * while the naive exists-then-put / blind-put translations lose
  * updates and tear manifests.
  *
  * Routing: stores register by table-root prefix ([[LogStore.register]]);
  * [[LogStore.forPath]] resolves the longest matching prefix and falls
  * back to [[HadoopLogStore]] — so one session can host POSIX tables
  * and shimmed object-store tables side by side (q173 runs a full
  * merge/delete/vacuum cycle through the shim under the oracle gate).
  */
trait LogStore {

  /** Atomically create an empty reservation marker at `path`.
    * Exactly one of N concurrent callers returns true. */
  def createExclusive(fs: FileSystem, path: Path): Boolean

  /** Atomically publish `bytes` at `dst`: complete-or-absent for any
    * reader, never overwrites. False when `dst` already exists. */
  def publish(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean
}

object LogStore {

  private val registry =
    new java.util.concurrent.ConcurrentSkipListMap[String, LogStore](
      // longest prefix first, so floorKey-style scans hit the most
      // specific registration
      java.util.Comparator.reverseOrder[String]())

  /** Route every table under `rootPrefix` through `store`. Longest
    * registered prefix wins. Matching is PATH-COMPONENT-wise: a store
    * for "/data/tab" governs "/data/tab" and "/data/tab/…" but never
    * "/data/table2" — a raw startsWith would silently route an
    * unrelated sibling table's commits through the wrong store. */
  def register(rootPrefix: String, store: LogStore): Unit =
    registry.put(rootPrefix.stripSuffix("/"), store)

  def unregister(rootPrefix: String): Unit =
    registry.remove(rootPrefix.stripSuffix("/"))

  /** The store governing `path` — longest registered prefix on a path
    * boundary, default [[HadoopLogStore]]. */
  def forPath(path: String): LogStore = {
    val it = registry.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val p = e.getKey
      if (path == p || path.startsWith(p + "/")) return e.getValue
    }
    HadoopLogStore
  }
}

/** Default implementation over filesystems with real atomic rename
  * and create-exclusive (HDFS, POSIX local). This is byte-for-byte
  * the protocol VersionedTable inlined before the seam existed. */
object HadoopLogStore extends LogStore {

  override def createExclusive(fs: FileSystem, path: Path): Boolean = {
    val uri = path.toUri
    val local = uri.getScheme == null || uri.getScheme == "file"
    if (local)
      // Hadoop's local create(overwrite=false) is exists-then-create —
      // a TOCTOU two PROCESSES can race through (in-JVM callers are
      // saved by the client-side checksum lock, other processes are
      // not). POSIX O_EXCL via Files.createFile is the real atomic
      // create-exclusive; RaceProcessSpec hammers this cross-JVM.
      try {
        java.nio.file.Files.createFile(
          java.nio.file.Paths.get(uri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
        case _: java.io.IOException => false
      }
    else
      try { fs.create(path, /*overwrite=*/ false).close(); true }
      catch { case _: java.io.IOException => false }
  }

  override def publish(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean = {
    val tmp = new Path(dst.getParent, s".tmp-${java.util.UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try { out.write(bytes); out.flush() } finally out.close()
    // rename-no-overwrite: on HDFS a rename onto an existing dst
    // returns false; guard local POSIX (where rename REPLACES dst)
    // with an existence check — the create-exclusive lock already
    // serializes writers of one version, so this is belt-and-braces
    // against protocol bugs, not the linearization point
    if (fs.exists(dst)) { fs.delete(tmp, false); false }
    else fs.rename(tmp, dst)
  }
}

/** An object store the way S3 actually behaves, emulated over a local
  * directory so specs and gated queries can run against it. Its ONE
  * atomic primitive is [[conditionalPut]] — `If-None-Match: *`.
  * Server-side serialization is emulated by a JVM-wide per-path
  * arbiter (standing in for the service's internal linearizer — the
  * part of S3 you cannot build client-side); reader-side
  * complete-or-absent visibility is emulated with a hidden temp +
  * POSIX rename, which this class is allowed to use precisely because
  * it plays the SERVER, not the client.
  *
  * There is no rename and no create-exclusive in the API — that is
  * the point. A client that needs either must build it from
  * conditionalPut ([[ConditionalPutLogStore]]) or accept lost updates
  * and torn manifests (LogStoreSpec's naive client demonstrates both).
  */
final class SimulatedObjectStore {

  // per-path arbiter: emulates the object service's internal
  // serialization of conditional requests. JVM-wide so every "client"
  // in the process races through the same "server".
  private val arbiter = new ConcurrentHashMap[String, Object]()

  /** Conditional-put request count — the store's "server log". Lets a
    * gated query PROVE its commits routed through the shim (q173)
    * instead of silently falling back to the POSIX default. */
  val condPuts = new java.util.concurrent.atomic.AtomicLong(0)

  def conditionalPut(fs: FileSystem, path: Path, bytes: Array[Byte]): Boolean = {
    condPuts.incrementAndGet()
    val key = path.toString
    val mutex = arbiter.computeIfAbsent(key, _ => new Object)
    mutex.synchronized {
      if (fs.exists(path)) false
      else {
        val tmp = new Path(path.getParent,
          s".sos-tmp-${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, false)
        try { out.write(bytes); out.flush() } finally out.close()
        if (!fs.rename(tmp, path))
          throw new java.io.IOException(s"store-side publish of $key failed")
        true
      }
    }
  }
}

/** The CORRECT object-store client: both commit primitives are the
  * store's conditional put — the integration Delta's S3 LogStores and
  * Iceberg's object-store catalogs perform. Exactly-one-winner and
  * complete-or-absent visibility come from the server-side primitive,
  * not from any client-side rename. */
final class ConditionalPutLogStore(store: SimulatedObjectStore)
    extends LogStore {

  override def createExclusive(fs: FileSystem, path: Path): Boolean =
    store.conditionalPut(fs, path, Array.emptyByteArray)

  override def publish(fs: FileSystem, dst: Path, bytes: Array[Byte]): Boolean =
    store.conditionalPut(fs, dst, bytes)
}
