package graft

import java.nio.file.{Files, Path, Paths}

/** Session-lifetime memo for STORED index builds shared across gate
  * keys — the `Tables`-style cache for the index-lifecycle surface.
  *
  * The lifecycle keys (`q_ann_append`/`q_ann_delete`,
  * `q_retrieval_append`/`q_retrieval_delete`, and the graph pair
  * `q_similarity_graph`/`q_similarity_graph_scaled`) each need a
  * stored index over (a deterministic slice of) the corpus before
  * they can exercise their mutation + serve contract. Rebuilding that
  * base inside every key made the four lifecycle keys ~62 s of the
  * sf10 bench on builds alone, all of it redundant: the base is a
  * pure function of (sfDir, family, build parameters), which is
  * exactly what a deployment amortizes by KEEPING the index on disk.
  *
  * So: the first key to need a base builds it ONCE into a
  * JVM-lifetime temp directory; later keys either serve it read-only
  * ([[dir]]) or clone it with a file-level copy and mutate the clone
  * ([[cloneDir]]) — append/delete/purge contracts stay byte-for-byte
  * what they were, because every mutation runs on a private copy
  * whose files are identical to a fresh build's (the build functions
  * are deterministic: seeded fits, seeded layouts). A file copy of a
  * gate-sized index is milliseconds; the recomputation it replaces
  * is a k-means fit + quantize + shuffle write over the corpus.
  *
  * Keyed by caller-supplied strings that must encode every build
  * parameter that matters (sfDir, family, nlist, seed, …) — two keys
  * that want different bases use different strings. Thread-safe for
  * the gate runners' sequential key loop and for racy test suites
  * (the lock covers the build, so a base is never half-built when a
  * second caller reads it). Everything lives under one temp root
  * removed by a JVM shutdown hook.
  */
object IndexMemo {

  private lazy val root: Path = Paths.get(Materialize.jvmTempDir("graft_index_memo"))

  private val built = scala.collection.mutable.HashMap.empty[String, String]

  /** JVM-lifetime root for [[IndexCatalog]]-managed indexes the gate
    * keys build (the catalog itself is persistence-agnostic — a
    * deployment points it at an object-store prefix; the keys point
    * it here so the shutdown hook owns cleanup and repeat calls
    * within one session exercise the catalog's reuse path). */
  lazy val catalogRoot: String = {
    val d = root.resolve("catalog")
    Files.createDirectories(d)
    d.toString
  }

  /** The shared base index for `key`: built by `build(dir)` on first
    * use, returned as-is afterwards. Callers must treat the returned
    * directory as READ-ONLY — a key that mutates takes [[cloneDir]]. */
  def dir(key: String)(build: String => Unit): String = synchronized {
    built.getOrElseUpdate(key, {
      val d = root.resolve(
        key.replaceAll("[^A-Za-z0-9._-]", "_").take(120) +
          "_" + Integer.toHexString(key.hashCode))
      // a failed build must not leave a half-written directory for the
      // retry to build ON TOP OF (appends and cloneDir file copies
      // assume a clean target): delete the dir before rethrowing, so
      // a retry starts from scratch exactly like the first attempt
      try build(d.toString)
      catch { case e: Throwable => Materialize.deleteTree(d.toString); throw e }
      d.toString
    })
  }

  /** A PRIVATE file-level copy of the shared base for `key` — the
    * entry point for keys that mutate (append / delete / purge). The
    * clone lands in the caller's `into` directory (typically a
    * per-key temp dir the key already removes in its finally). */
  def cloneDir(key: String, into: String)(build: String => Unit): Unit =
    copyTree(dir(key)(build), into)

  /** Recursive file-level copy of an existing directory tree —
    * [[cloneDir]] without the memo lookup, for callers that already
    * hold a built base's path. */
  def copyTree(from: String, into: String): Unit = {
    val src = Paths.get(from)
    val dst = Paths.get(into)
    Files.walk(src).forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else {
        Files.createDirectories(t.getParent)
        Files.copy(p, t,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      }
    }
  }
}
