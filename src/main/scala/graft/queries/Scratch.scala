package graft.queries

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Per-JVM scratch root for fixture/artifact writes that happen
  * INSIDE query bodies (q161's synthesized WARC dir, q166/q171's
  * arrival fixtures, the q57/q162/q165/q170 artifact roundtrips).
  *
  * These previously shared fixed `java.io.tmpdir` paths keyed by
  * `dir.hashCode`, so two concurrent Verify/Bench JVMs on the same
  * corpus could clobber each other mid-drain: an artifact
  * dynamic-overwrite deletes files under a concurrent reader, and the
  * arrival-fixture writer recursively rewrites its directory. One
  * lazily-created temp directory per JVM removes the shared partition
  * entirely; re-runs within a JVM still overwrite their own prior
  * snapshot (the memoized-fixture semantics repeated bench passes
  * rely on — a fresh dir per CALL would leak one copy per pass). */
private[queries] object Scratch {

  lazy val root: String = {
    val dir = Files.createTempDirectory("graft_scratch")
    // the per-JVM dir would otherwise outlive every run (one parquet
    // fixture tree leaked per Verify/Bench invocation); best-effort
    // delete at JVM exit — a crash still leaks, but the OS tmp
    // reaper owns that case
    Runtime.getRuntime.addShutdownHook(new Thread(() => deleteTree(dir)))
    dir.toString
  }

  /** Best-effort recursive delete (walk stream closed; a file that
    * cannot be removed is skipped, never thrown). */
  private def deleteTree(root: Path): Unit =
    try {
      val walk = Files.walk(root)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(p =>
          { try Files.deleteIfExists(p) catch { case _: Throwable => () } })
      finally walk.close()
    } catch { case _: Throwable => () }

  /** Write-once fixture directory: when `dir` is absent, `write` fills
    * a fresh sibling path, which one rename then moves onto `dir` — so
    * `dir` exists only once complete. A `write` that throws midway
    * leaves no `dir` behind (its partial copy is deleted) and the next
    * call redoes it; if another writer published `dir` first, this
    * call's copy is dropped. */
  def memo(dir: String)(write: String => Unit): Unit = {
    val target = Paths.get(dir)
    if (!Files.exists(target)) {
      val tmp = Paths.get(s"$dir.tmp-${java.util.UUID.randomUUID}")
      try {
        write(tmp.toString)
        try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        catch { case _: java.io.IOException if Files.exists(target) => () }
      } finally deleteTree(tmp)
    }
  }

  /** Artifact-store root for in-query save/load roundtrips. */
  def artifactRoot: String = s"$root/artifacts"

  /** Fixture directory, keyed collision-resistantly: normKey
    * md5-suffixes the full corpus dir string, so distinct corpora
    * never collide after sanitization (a 32-bit hashCode could). */
  def fixtureDir(prefix: String, dir: String): String =
    s"$root/${prefix}_${graft.sources.ArtifactStore.normKey(dir)}"
}
