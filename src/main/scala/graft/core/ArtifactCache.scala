package graft.core

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Build-once cache for derived on-disk artifacts (stored rollup tiers, the
  * persisted IVF index) keyed on the source table's identity.
  *
  * The gate queries that prove an artifact LIFECYCLE (build + serve) would
  * otherwise rebuild the artifact on every invocation, so a single-run
  * bench times the build, not the serve path the design optimizes — and a
  * fixed shared path would let two concurrent Verify/Bench processes
  * overwrite each other's store mid-read. This helper gives both properties:
  *
  *  - '''reuse''': the artifact directory carries a `_GRAFT_READY` marker
  *    holding a freshness token (source file length + mtime). A matching
  *    marker short-circuits the build entirely — rebuilds happen only when
  *    the source data actually changed.
  *  - '''isolation''': builds land in a `.build-<pid>` sibling and are
  *    published with an atomic directory rename, so a concurrent process
  *    either sees the complete artifact or none. If another process wins
  *    the publish race, its (fresh, complete) artifact is used and the
  *    local build is discarded; if the final path is occupied by a stale
  *    artifact that cannot be replaced, the private build dir itself is
  *    served — never a half-written store.
  *
  * Local-filesystem tmpdir only (rename atomicity) — exactly the Verify /
  * Bench harness environment. Production stores are written by the
  * streaming cascade, not through this cache.
  */
object ArtifactCache {

  private val markerName = "_GRAFT_READY"

  /** Newest mtime under the code location that built the artifact: the
    * freshness token must change when the BUILD LOGIC changes, not only
    * when the source data does — otherwise the pre-commit gate would hash
    * stores built by stale code forever (testdata mtimes never change).
    * Walking target/classes is a few hundred stats, once per JVM. */
  private lazy val codeStamp: Long = {
    try {
      val loc = getClass.getProtectionDomain.getCodeSource.getLocation
      val root = new File(loc.toURI)
      if (root.isFile) root.lastModified
      else {
        var newest = root.lastModified
        def walk(f: File): Unit = {
          val t = f.lastModified
          if (t > newest) newest = t
          if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(walk)
        }
        walk(root)
        newest
      }
    } catch { case scala.util.control.NonFatal(_) => 0L }
  }

  private def token(sourceFile: String): String = {
    val f = new File(sourceFile)
    s"${f.length}:${f.lastModified}:$codeStamp"
  }

  private def markerMatches(dir: File, tok: String): Boolean = {
    val m = new File(dir, markerName)
    m.isFile && new String(Files.readAllBytes(m.toPath),
      StandardCharsets.UTF_8) == tok
  }

  private def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  /** Return the directory of the artifact named `name` derived from
    * `sourceFile` for scale-factor dir `sfDir`, building it with `build`
    * (which receives the directory to populate) only if absent or stale. */
  def cached(name: String, sfDir: String, sourceFile: String)
      (build: String => Unit): String = {
    val tok = token(sourceFile)
    val finalDir = Paths.get(sys.props("java.io.tmpdir"),
      "graft_" + name + "_" + sfDir.replace('/', '_')).toFile
    if (markerMatches(finalDir, tok)) return finalDir.getPath

    val buildDir = new File(finalDir.getParent,
      finalDir.getName + ".build-" + ProcessHandle.current.pid)
    deleteRecursively(buildDir)
    build(buildDir.getPath)
    Files.write(new File(buildDir, markerName).toPath,
      tok.getBytes(StandardCharsets.UTF_8))

    // re-check BEFORE removing the final path: a concurrent builder may
    // have published a fresh artifact while we built — adopt it rather
    // than deleting files it may already be serving reads from
    if (markerMatches(finalDir, tok)) {
      deleteRecursively(buildDir)
      finalDir.getPath
    } else {
      deleteRecursively(finalDir) // stale or absent; no-op when absent
      if (buildDir.renameTo(finalDir)) finalDir.getPath
      else if (markerMatches(finalDir, tok)) {
        // a concurrent builder won the rename race — use its artifact
        deleteRecursively(buildDir)
        finalDir.getPath
      } else buildDir.getPath // unremovable stale occupant: serve our own
    }
  }
}
