package graft

import java.nio.file.{Files, Path => JPath}

import graft.operators.{MoveSink, Report}

/** O6/O7 sink semantics: overwrite, error isolation, idempotent retry. */
class MoveSinkSpec extends SparkSpec {

  private def tmp(): JPath = TempDirs.dir("graft-sink")

  private def planDf(pairs: (String, String)*) = {
    import spark.implicits._
    pairs.toSeq.toDF("src", "dst")
  }

  test("move: target overwritten, source deleted; failures isolated per file") {
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "AAA")
    Files.writeString(root.resolve("exists.txt"), "OLD")
    val df = planDf(
      (s"file:$root/a.txt", s"file:$root/exists.txt"),
      (s"file:$root/ghost.txt", s"file:$root/g.txt")) // missing source
    val res = MoveSink.run(df, MoveSink.Move).collect()
    val bySrc = res.map(r => r.src.split("/").last -> r).toMap
    assert(bySrc("a.txt").ok)
    assert(Files.readString(root.resolve("exists.txt")) === "AAA")
    assert(!Files.exists(root.resolve("a.txt")))
    assert(!bySrc("ghost.txt").ok)
    assert(bySrc("ghost.txt").error.contains("source not found"))
  }

  test("move: overwrite=false refuses existing target") {
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "AAA")
    Files.writeString(root.resolve("b.txt"), "BBB")
    val res = MoveSink.run(
      planDf((s"file:$root/a.txt", s"file:$root/b.txt")),
      MoveSink.Move, overwrite = false).collect()
    assert(!res(0).ok && res(0).error.contains("overwrite=false"))
    assert(Files.readString(root.resolve("b.txt")) === "BBB")
  }

  test("CopyAsync: pending issuance, source kept, bytes land eventually") {
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "ASYNC")
    val res = MoveSink.run(
      planDf(
        (s"file:$root/a.txt", s"file:$root/out/a.txt"),
        (s"file:$root/ghost.txt", s"file:$root/out/g.txt")),
      MoveSink.CopyAsync).collect()
    val bySrc = res.map(r => r.src.split("/").last -> r).toMap
    // issuance result is immediate: pending with the source size...
    assert(bySrc("a.txt").ok && bySrc("a.txt").status === "pending")
    assert(bySrc("a.txt").bytes === 5L)
    // ...while a missing source is a REAL failure at issue time
    assert(!bySrc("ghost.txt").ok && bySrc("ghost.txt").status === "failed")
    // the detached copy completes without any further await on our side
    // (poll on SIZE, not existence — the copier creates the file before
    // the bytes land)
    val dst = root.resolve("out/a.txt")
    val deadline = System.currentTimeMillis() + 30000
    while ((!Files.exists(dst) || Files.size(dst) < 5L) &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(50)
    assert(Files.readString(dst) === "ASYNC")
    assert(Files.exists(root.resolve("a.txt"))) // source never deleted
  }

  test("CopyAsync: report stays truthful when the target rejects the write mid-flight") {
    // the reference's fire-and-forget contract (app/app.py:57-64): the
    // copy is issued and never awaited, so the report can only ever say
    // `pending` — never `success`. When the target store kills the
    // transfer AFTER issuance, that already-reported status must remain
    // the honest one: no retroactive success, no thrown error, source
    // intact, and nothing materialized at the destination.
    spark.sparkContext.hadoopConfiguration
      .set("fs.failwrite.impl", classOf[FailingWriteFs].getName)
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "DOOMED")
    FailingWriteFs.createAttempts.set(0)
    val res = MoveSink.run(
      planDf((s"file:$root/a.txt", s"failwrite:$root/out/a.txt")),
      MoveSink.CopyAsync).collect()
    // issuance succeeded (exists/mkdirs on the target fs pass), so the
    // truthful immediate status is pending — explicitly NOT success
    assert(res.length === 1)
    assert(res(0).ok && res(0).status === "pending")
    assert(res(0).bytes === 6L)
    // await the detached worker actually attempting (and failing) the
    // write — counter, not sleep, so the assertion is deterministic
    val deadline = System.currentTimeMillis() + 30000
    while (FailingWriteFs.createAttempts.get() == 0 &&
           System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(FailingWriteFs.createAttempts.get() >= 1,
      "detached copy never reached the target fs")
    // the rejection is absorbed by the detached worker: source intact,
    // no destination, and the already-collected report is unchanged
    Thread.sleep(100) // let the worker's catch run after create() threw
    assert(Files.readString(root.resolve("a.txt")) === "DOOMED")
    assert(!Files.exists(root.resolve("out/a.txt")))
  }

  test("idempotent retry: src gone + dst present ⇒ success (SURVEY §4.3)") {
    val root = tmp()
    Files.writeString(root.resolve("done.txt"), "X")
    val res = MoveSink.run(
      planDf((s"file:$root/gone.txt", s"file:$root/done.txt")),
      MoveSink.Move).collect()
    assert(res(0).ok && res(0).bytes === 1L)
  }

  test("observe() metrics ride along with the action") {
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "AAA")
    val results = MoveSink.run(
      planDf(
        (s"file:$root/a.txt", s"file:$root/b.txt"),
        (s"file:$root/ghost.txt", s"file:$root/g.txt")),
      MoveSink.Copy)
    val (df, obs) = Report.observed(results)
    df.collect()
    val m = obs.get
    assert(m("n_total") === 2L && m("n_ok") === 1L && m("n_failed") === 1L)
    assert(m("bytes_moved") === 3L)
  }

  test("copy keeps source; statusCounts report") {
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "AAA")
    val results = MoveSink.run(
      planDf(
        (s"file:$root/a.txt", s"file:$root/sub/dir/a.txt"),
        (s"file:$root/ghost.txt", s"file:$root/g.txt")),
      MoveSink.Copy)
    val counts = Report.statusCounts(results).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts === Map("success" -> 1L, "failed" -> 1L))
    assert(Files.exists(root.resolve("a.txt")))
    assert(Files.readString(root.resolve("sub/dir/a.txt")) === "AAA")
  }

  // ---- object-store (rename-less) move contract: the reference's own
  //      cloud semantics — Azure/S3 have no atomic rename, every move
  //      is copy+delete (app/main.py:174-185) ----

  private def nonatomicConf(): Unit =
    spark.sparkContext.hadoopConfiguration
      .set("fs.nonatomic.impl", classOf[NonAtomicRenameFs].getName)

  test("nonatomic store: rename refused → copy+delete fallback, truthful report") {
    nonatomicConf()
    NonAtomicRenameFs.reset()
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "OBJSTORE")
    val res = MoveSink.run(
      planDf((s"nonatomic:$root/a.txt", s"nonatomic:$root/out/a.txt")),
      MoveSink.Move).collect()
    assert(res(0).ok && res(0).status === "success" && res(0).bytes === 8L)
    assert(Files.readString(root.resolve("out/a.txt")) === "OBJSTORE")
    assert(!Files.exists(root.resolve("a.txt"))) // src deleted: a real move
    // the metadata-only fast path was tried once (dst absent), refused,
    // and the sink degraded to copy+delete instead of reporting failure
    assert(NonAtomicRenameFs.renameAttempts.get() === 1)
  }

  test("nonatomic store: overwrite-move never pre-deletes the destination") {
    nonatomicConf()
    NonAtomicRenameFs.reset()
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "NEW")
    Files.createDirectories(root.resolve("out"))
    Files.writeString(root.resolve("out/a.txt"), "OLDOLD")
    val res = MoveSink.run(
      planDf((s"nonatomic:$root/a.txt", s"nonatomic:$root/out/a.txt")),
      MoveSink.Move).collect()
    assert(res(0).ok && res(0).status === "success")
    assert(Files.readString(root.resolve("out/a.txt")) === "NEW")
    assert(!Files.exists(root.resolve("a.txt")))
    // occupied dst skips the doomed rename entirely (no wasted RPC on a
    // store that cannot rename) and the dst file is REPLACED by the
    // copy's own overwriting create — never destroyed ahead of it
    assert(NonAtomicRenameFs.renameAttempts.get() === 0)
    // the only delete issued is the post-copy source delete — the
    // destination path never appears in the FS's delete log
    assert(!NonAtomicRenameFs.deletedPaths.contains(s"$root/out/a.txt"),
      "destination must never be deleted before the transfer lands")
    assert(NonAtomicRenameFs.deletedPaths.contains(s"$root/a.txt"))
  }

  test("nonatomic store: concurrent writer beats us, overwrite=false stays truthful") {
    nonatomicConf()
    NonAtomicRenameFs.reset()
    val root = tmp()
    Files.writeString(root.resolve("a.txt"), "MINE")
    Files.createDirectories(root.resolve("out"))
    // the concurrent writer's file is already there, but our existence
    // probe races it: the FS reports exists=false exactly once — the
    // check-then-act window every object store client has
    Files.writeString(root.resolve("out/contested.txt"), "THEIRS")
    NonAtomicRenameFs.contestedLies.set(1)
    val res = MoveSink.run(
      planDf((s"nonatomic:$root/a.txt", s"nonatomic:$root/out/contested.txt")),
      MoveSink.Move, overwrite = false).collect()
    // the non-overwriting create detects the writer's object and the
    // report says failed — NOT success-with-someone-else's-bytes
    assert(!res(0).ok && res(0).status === "failed")
    assert(Files.readString(root.resolve("out/contested.txt")) === "THEIRS")
    assert(Files.readString(root.resolve("a.txt")) === "MINE") // src kept
  }
}
