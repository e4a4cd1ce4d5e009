package graft.util

/** The engine's one build-once-per-JVM memo for fixture-derived artifacts:
  * persisted tables, on-disk indexes and layouts, and small driver-side
  * models. Each is built on first use for a (kind, key) and then served,
  * as the reference builds its `user_activity` table once and reads it
  * many times (cassandra-init.cql:6-15, main.py:143-146).
  *
  * One cell per (kind, key). The map only hands out cells; a cell's build
  * runs under the cell's own lock, outside the map. So concurrent callers
  * of one key run its build exactly once, a long build does not block
  * unrelated keys, and a build may itself resolve other keys. A build that
  * throws leaves its cell empty, and the next caller builds again.
  *
  * Tmp-dir artifacts live at [[dir]]: sanitized key plus an 8-byte SHA-1
  * of `kind|key`, so two distinct keys never share a directory however
  * their characters sanitize (e.g. `/data/sf0-1` vs `/data/sf0_1`). Keys
  * of per-fixture artifacts start with the fixture dir (`sfDir` or
  * `sfDir|params`), which is what [[dirsOf]] matches on.
  */
object ArtifactMemo {
  private final class Cell(val kind: String, val key: String) {
    @volatile var built = false
    var value: Any = _
  }

  private val cells = new java.util.concurrent.ConcurrentHashMap[String, Cell]()
  private val hitCount = new java.util.concurrent.atomic.AtomicLong()
  private val buildCount = new java.util.concurrent.atomic.AtomicLong()

  /** The value for (kind, key), building it on the first call per JVM. */
  def once[T](kind: String, key: String)(build: => T): T = {
    val cell = cells.computeIfAbsent(s"$kind|$key", _ => new Cell(kind, key))
    if (cell.built) hitCount.incrementAndGet()
    else cell.synchronized {
      if (cell.built) hitCount.incrementAndGet()
      else { cell.value = build; cell.built = true; buildCount.incrementAndGet() }
    }
    cell.value.asInstanceOf[T]
  }

  /** The tmp directory for (kind, key) — the one spelling every artifact
    * written under `java.io.tmpdir` uses. */
  def dir(kind: String, key: String): String = {
    val digest = java.security.MessageDigest.getInstance("SHA-1")
      .digest(s"$kind|$key".getBytes("UTF-8")).take(8)
      .map(b => f"$b%02x").mkString
    s"${sys.props("java.io.tmpdir")}/graft_${kind}_" +
      key.replaceAll("[^A-Za-z0-9.]+", "_") + "_" + digest
  }

  /** A tmp-dir artifact: `write` fills [[dir]] once per JVM; returns it. */
  def path(kind: String, key: String)(write: String => Unit): String =
    once(kind, key) { val out = dir(kind, key); write(out); out }

  /** Calls so far that were served by an already-built cell. */
  def hits: Long = hitCount.get()

  /** Builds so far that completed (a build that threw is not counted). */
  def builds: Long = buildCount.get()

  /** The existing tmp directories of the artifacts built for a fixture. */
  def dirsOf(sfDir: String): Seq[String] = {
    import scala.jdk.CollectionConverters._
    cells.values.asScala.toSeq
      .filter(c => c.built && (c.key == sfDir || c.key.startsWith(sfDir + "|")))
      .map(c => dir(c.kind, c.key))
      .filter(d => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(d)))
      .sorted
  }
}
