package graft.util

/** Shuffle/scratch directory selection for the single-JVM mains.
  *
  * The sandbox's root filesystem (ext4 on virtio with `discard`)
  * serializes metadata-heavy small-file traffic: a 32-thread
  * create+write+unlink microbenchmark runs 1.31 s on /tmp vs 0.16 s
  * on /dev/shm (r21 measurement), and task-thread sampling of the
  * curation composites showed FileOutputStream.open0 /
  * shuffle-commit / unlink frames dominating non-idle task time —
  * local[32] with 32 shuffle partitions opens O(tasks × partitions)
  * tiny files per exchange (bypass-merge writer). Pointing
  * spark.local.dir at the RAM-backed /dev/shm removed that wall:
  * p_incremental_curation 8.7–9.2 s → 6.0–7.6 s, p_curation_v3
  * 6.2–12.4 s → 4.6–6.8 s (same session shape, r21).
  *
  * This mirrors production guidance (shuffle scratch on the fastest
  * local storage — NVMe or RAM-backed tmpfs): the shuffles still
  * run, every byte still moves through the shuffle machinery; only
  * the scratch medium changes. Selection order:
  *
  *  1. `GRAFT_LOCAL_DIR` env (explicit override, any path);
  *  2. `/dev/shm` when it exists, is writable, and reports ≥ 16 GiB
  *     usable (the bench's sf0.1 shuffle footprint is a few hundred
  *     MB; the guard keeps a nearly-full shm from breaking runs);
  *  3. Spark's default (java.io.tmpdir) otherwise.
  *
  * `SPARK_LOCAL_DIRS`, when set by the environment, takes precedence
  * over `spark.local.dir` inside Spark itself — so an external
  * harness can always force its own scratch location.
  *
  * ScaleStress deliberately does NOT use this: its 100–500× arms
  * write multi-GB shuffle scratch that belongs on disk (r20 measured
  * ENOSPC territory), and its measurements target cluster-shaped
  * I/O, not the bench's small-shuffle metadata wall.
  */
object LocalScratch {

  private val minUsableBytes = 16L * 1024 * 1024 * 1024

  /** The chosen scratch dir, or None for Spark's default. */
  def dir(): Option[String] =
    sys.env.get("GRAFT_LOCAL_DIR").filter(_.nonEmpty).orElse {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite && shm.getUsableSpace >= minUsableBytes) {
        val d = new java.io.File(shm, "graft-local")
        if (d.isDirectory || d.mkdirs()) Some(d.getAbsolutePath) else None
      } else None
    }

  /** True when the chosen scratch dir is RAM-backed (tmpfs). */
  private def isRamBacked(d: String): Boolean =
    d.startsWith("/dev/shm") || {
      try {
        val store = java.nio.file.Files.getFileStore(java.nio.file.Paths.get(d))
        store.`type`() == "tmpfs"
      } catch { case _: Throwable => false }
    }

  /** The conf for fast scratch: `spark.local.dir` when a fast scratch
    * dir is available; nothing otherwise.
    *
    * When the scratch medium is RAM-backed, block reads are also
    * switched from memory-mapping to plain reads
    * (`spark.storage.memoryMapThreshold`, default 2m): the shuffle
    * bytes already live in the page cache, so mmap buys nothing and
    * each map/unmap costs a page-table update plus a TLB-shootdown
    * IPI across every core — task-thread sampling of the curation
    * composites showed FileChannelImpl.map0/unmap0 as the TOP
    * non-idle frames (3.8k samples vs 1.5k for codegen), and an A/B
    * probe of p_incremental_media_curation measured warm reps
    * 7.0 → 6.1 s median (r21, OPTIMIZATION_r21.md §2.8). On disk- or
    * NVMe-backed scratch the default stays: mapping large blocks
    * avoids a copy that a real storage medium makes worth avoiding.
    * The threshold is 128m, not unbounded: a plain read buffers the
    * whole block on-heap, so with many concurrent tasks a fleet of
    * multi-hundred-MB blocks would trade the mmap TLB cost for heap
    * pressure (ADVICE r21). The bench's blocks are KBs–MBs, far below
    * the cutoff, and anything above 128m is large enough that one
    * map/unmap amortizes. A `-Dspark.storage.memoryMapThreshold`
    * system property overrides it (see [[Session]]). */
  def conf(): Seq[(String, String)] =
    dir().toSeq.flatMap { d =>
      ("spark.local.dir" -> d) +:
        (if (isRamBacked(d)) Seq("spark.storage.memoryMapThreshold" -> "128m") else Nil)
    }
}
