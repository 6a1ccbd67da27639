package graft

import java.nio.file.Files
import java.sql.{Date, Timestamp}

import graft.model.{DatasetMeta, DatasetStatus}
import graft.registry.DatasetRegistry

class RegistrySpec extends SparkSpec {

  private def freshRegistry(): DatasetRegistry = {
    val dir = Files.createTempDirectory("graft-registry").toString
    new DatasetRegistry(spark, s"$dir/registry")
  }

  private val d = Date.valueOf("2025-04-01")

  test("insert allocates increasing ids and the row is active") {
    val reg = freshRegistry()
    val id1 = reg.insert(d, "A", 1, 1)
    val id2 = reg.insert(d, "B", 1, 1)
    assert(id1 == 1L && id2 == 2L)
    assert(reg.active().collect().map(_.label).toSet == Set("A", "B"))
  }

  test("single-active invariant: re-inserting same (label,type,date) deactivates the sibling") {
    val reg = freshRegistry()
    val id1 = reg.insert(d, "A", 1, 1)
    val id2 = reg.insert(d, "A", 1, 1)
    val rows = reg.load().collect()
    assert(rows.length == 2)
    val byId = rows.map(r => r.datasetid -> r).toMap
    assert(!byId(id1).isactive)
    assert(byId(id1).datastatusid == DatasetStatus.Inactive.id)
    assert(byId(id1).effthrudate.isDefined) // SCD-2 closed out
    assert(byId(id2).isactive)
    // at most one active per key — the trigger-enforced invariant
    val actives = rows.filter(r => r.isactive && r.label == "A" && r.datasetdate == d)
    assert(actives.length == 1)
  }

  test("different date or type does not displace") {
    val reg = freshRegistry()
    reg.insert(d, "A", 1, 1)
    reg.insert(Date.valueOf("2025-04-02"), "A", 1, 1)
    reg.insert(d, "A", 2, 1)
    assert(reg.active().count() == 3)
  }

  test("setStatus changes status ONLY (reference parity: Empty datasets stay active)") {
    val reg = freshRegistry()
    val id1 = reg.insert(d, "A", 1, 1)
    val id2 = reg.insert(Date.valueOf("2025-04-03"), "A", 1, 1)
    reg.setStatus(id2, DatasetStatus.Empty)
    // update_dataset_empty_status (generic_import.py:307-311) is a
    // status-column UPDATE; isactive is untouched
    val rows = reg.load().collect().map(r => r.datasetid -> r).toMap
    assert(rows(id2).datastatusid == DatasetStatus.Empty.id && rows(id2).isactive)
    assert(reg.latestActiveDate(1).contains(Date.valueOf("2025-04-03")))
    // explicit deactivation closes the SCD-2 window
    reg.deactivate(id2)
    val after = reg.load().collect().map(r => r.datasetid -> r).toMap
    assert(!after(id2).isactive && after(id2).effthrudate.isDefined)
    assert(reg.latestActiveDate(1).contains(d))
    assert(reg.activeIds(1, d) == Seq(id1))
  }

  test("latestActiveFacts prunes to the newest active version") {
    import spark.implicits._
    val reg = freshRegistry()
    val id1 = reg.insert(d, "A", 7, 1)
    val id2 = reg.insert(d, "A", 7, 1) // displaces id1
    val facts = Seq((id1, "old"), (id2, "new")).toDF("datasetid", "v")
    val got = reg.latestActiveFacts(facts, 7).collect().map(_.getString(1)).toSeq
    assert(got == Seq("new"))
    assert(reg.latestActiveFacts(facts, 99).count() == 0)
  }

  test("racing inserts preserve the invariant (serialized writer)") {
    val reg = freshRegistry()
    val threads = (1 to 8).map { _ =>
      new Thread(() => { reg.insert(d, "A", 1, 1); () })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val rows = reg.load().collect()
    assert(rows.length == 8)
    assert(rows.count(_.isactive) == 1)
  }

  test("interleaved SEPARATE registry instances (≈ two driver processes) cannot race the invariant") {
    // two instances share no in-JVM lock — serialization comes only from
    // the claim protocol (atomic exclusive-create of the version marker),
    // the same CAS two independent drivers would contend on
    val dir = Files.createTempDirectory("graft-registry-mp").toString
    val regs = Seq.fill(2)(new DatasetRegistry(spark, s"$dir/registry"))
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = regs.map { reg =>
      new Thread(() => {
        try (1 to 4).foreach(_ => reg.insert(d, "A", 1, 1))
        catch { case t: Throwable => errors.add(t) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"writers must retry through contention, got $errors")
    val rows = regs.head.load().collect()
    // no lost updates: every insert materialized with a unique id
    assert(rows.length == 8, s"lost update: only ${rows.length} of 8 inserts survived")
    assert(rows.map(_.datasetid).distinct.length == 8, "datasetid collision across writers")
    // the trigger-grade invariant, across processes
    assert(rows.count(_.isactive) == 1, "exactly one active per (label, type, date)")
    assert(rows.filterNot(_.isactive).forall(_.effthrudate.isDefined),
      "every displaced version must have its SCD-2 window closed")
    // both instances resolve the same committed head
    assert(regs(1).load().collect().map(_.datasetid).sorted.toSeq ==
      rows.map(_.datasetid).sorted.toSeq)
  }

  test("zombie writer waking AFTER its slot was skipped cannot corrupt the head") {
    // Protocol-level simulation of the stall-past-grace interleaving:
    // a writer claims slot v, stalls before renaming its data in; later
    // writers wait out the grace period, tombstone the dead slot, and
    // commit past it. When the zombie finally renames, the rename must
    // FAIL (not silently land a lost update), and head resolution must
    // keep returning the post-skip snapshot.
    val dir = Files.createTempDirectory("graft-registry-zombie").toString
    val path = s"$dir/registry"
    val reg = new DatasetRegistry(spark, path)
    reg.insert(d, "A", 1, 1) // commits version 1

    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = s"$path.versions"
    // zombie claims slot 2 (atomic marker create) ...
    hfs.create(new org.apache.hadoop.fs.Path(s"$versions/commit-2"), false).close()
    // ... and has its data staged in a tmp dir, but stalls before rename
    val zombieTmp = new org.apache.hadoop.fs.Path(s"$versions/.tmp-zombie")
    reg.load().write.parquet(zombieTmp.toString)

    // a live writer skips the dead slot after the grace period
    reg.insert(d, "B", 1, 1)
    val afterSkip = reg.load().collect()
    assert(afterSkip.length == 2, "live writer must commit past the dead slot")

    // zombie wakes and tries to rename into its (now tombstoned) slot
    val renamed = hfs.rename(zombieTmp, new org.apache.hadoop.fs.Path(s"$versions/data-2"))
    assert(!renamed, "rename into a tombstoned slot must fail, not lose the update")

    // head resolution is unchanged, and the registry keeps working
    assert(reg.load().collect().map(_.label).sorted.toSeq == Seq("A", "B"))
    reg.insert(d, "C", 1, 1)
    assert(reg.load().collect().length == 3)
    // a separate instance (≈ another process) resolves the same head
    assert(new DatasetRegistry(spark, path).load().collect().length == 3)
  }

  test("zombie writer renaming WITHIN the grace period is picked up as the base") {
    val dir = Files.createTempDirectory("graft-registry-grace").toString
    val path = s"$dir/registry"
    val reg = new DatasetRegistry(spark, path)
    reg.insert(d, "A", 1, 1) // version 1

    val hfs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val versions = s"$path.versions"
    hfs.create(new org.apache.hadoop.fs.Path(s"$versions/commit-2"), false).close()
    val slowTmp = new org.apache.hadoop.fs.Path(s"$versions/.tmp-slow")
    // the slow writer's snapshot adds label S on top of version 1
    val withS = reg.load().collect() :+ reg.load().collect().head.copy(
      datasetid = 99L, label = "S", isactive = false)
    import spark.implicits._
    spark.createDataset(withS.toSeq).coalesce(1).write.parquet(slowTmp.toString)

    // finish the slow rename ~300 ms into the live writer's grace wait
    val finisher = new Thread(() => {
      Thread.sleep(300)
      hfs.rename(slowTmp, new org.apache.hadoop.fs.Path(s"$versions/data-2"))
      ()
    })
    finisher.start()
    reg.insert(d, "B", 1, 1) // must base on version 2 (includes S)
    finisher.join()
    val labels = reg.load().collect().map(_.label).sorted.toSeq
    assert(labels == Seq("A", "B", "S"),
      s"live writer must rebase onto the slow commit, got $labels")
  }

  test("fleet-concurrency stress: 8 writers x mixed ops keep the invariant and the version chain") {
    // Property-style storm over FOUR independent instances (shared
    // in-JVM lock only within an instance — cross-instance ordering is
    // the marker CAS alone, as across driver processes) with random
    // think-time injected between ops to scatter the interleavings
    // around the grace-period window. Ops per thread is sized for CI
    // wall-clock: every committed mutation is a full parquet
    // write+rename+read cycle (~0.25 s), and the INVARIANTS are
    // per-interleaving, not per-volume.
    val dir = Files.createTempDirectory("graft-registry-stress").toString
    val regs = IndexedSeq.fill(4)(new DatasetRegistry(spark, s"$dir/registry"))
    val labels = IndexedSeq("A", "B", "C")
    val dates = IndexedSeq(d, Date.valueOf("2025-04-02"))
    val nThreads = 8
    val opsPerThread = 10
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val inserted = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val deactivated = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val statusSet = new java.util.concurrent.ConcurrentLinkedQueue[Long]
    val threads = (0 until nThreads).map { t =>
      new Thread(() => {
        val rnd = new scala.util.Random(1000 + t) // deterministic per thread
        try (1 to opsPerThread).foreach { _ =>
          val reg = regs(rnd.nextInt(regs.size))
          Thread.sleep(rnd.nextInt(20).toLong)
          rnd.nextInt(10) match {
            case k if k < 6 || inserted.isEmpty => // 60% inserts
              inserted.add(reg.insert(
                dates(rnd.nextInt(dates.size)), labels(rnd.nextInt(labels.size)), 1, 1))
            case k if k < 8 => // 20% status flips on a random known id
              val ids = inserted.toArray(Array.empty[java.lang.Long])
              val id = ids(rnd.nextInt(ids.length)).longValue
              reg.setStatus(id, DatasetStatus.Empty)
              statusSet.add(id)
            case _ => // 20% explicit deactivations
              val ids = inserted.toArray(Array.empty[java.lang.Long])
              val id = ids(rnd.nextInt(ids.length)).longValue
              reg.deactivate(id)
              deactivated.add(id)
          }
        } catch { case e: Throwable => errors.add(e) }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    assert(errors.isEmpty, s"every op must commit through contention: $errors")

    val rows = regs.head.load().collect()
    val ids = inserted.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSeq
    // no lost updates, no id collisions: ids are exactly 1..N
    assert(rows.length == ids.length, s"${ids.length} inserts but ${rows.length} rows")
    assert(rows.map(_.datasetid).sorted.toSeq == (1L to ids.length).toSeq,
      "serialized id allocation must yield a dense 1..N chain")
    assert(ids.sorted == (1L to ids.length).toSeq, "returned ids must be the same chain")
    // trigger-grade invariant under every interleaving
    for (((l, dt), g) <- rows.groupBy(r => (r.label, r.datasetdate)))
      assert(g.count(_.isactive) <= 1, s"multiple actives for ($l, $dt)")
    // nothing ever reactivates: an explicitly deactivated id stays closed
    val byId = rows.map(r => r.datasetid -> r).toMap
    deactivated.forEach { id =>
      assert(!byId(id.longValue).isactive, s"deactivated $id came back active")
      assert(byId(id.longValue).effthrudate.isDefined, s"deactivated $id has an open window")
    }
    // per key: the only possible active is the newest insert, and it IS
    // active unless explicitly deactivated
    val deact = deactivated.toArray(Array.empty[java.lang.Long]).map(_.longValue).toSet
    for (((l, dt), g) <- rows.groupBy(r => (r.label, r.datasetdate))) {
      val maxId = g.map(_.datasetid).max
      g.filter(_.isactive).foreach(a =>
        assert(a.datasetid == maxId, s"active for ($l, $dt) is not the newest insert"))
      if (!deact.contains(maxId))
        assert(byId(maxId).isactive, s"newest insert $maxId for ($l, $dt) lost its active flag")
    }
    // displaced versions all carry a closed SCD-2 window
    assert(rows.filterNot(_.isactive).forall(_.effthrudate.isDefined))
    // the on-disk version chain is monotone and complete at the head:
    // every retained commit marker above the prune watermark has its
    // committed data directory, and both instances resolve the same head
    val fsPath = new org.apache.hadoop.fs.Path(s"$dir/registry.versions")
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val names = fs.listStatus(fsPath).map(_.getPath.getName)
    val markers = names.collect { case s if s.startsWith("commit-") => s.stripPrefix("commit-").toLong }.sorted
    val datas = names.collect { case s if s.startsWith("data-") => s.stripPrefix("data-").toLong }.toSet
    assert(markers.nonEmpty && markers.takeRight(1).forall(datas.contains), "head must be committed")
    assert(markers.takeRight(8).forall(datas.contains),
      "retained tail of the version chain must be contiguous committed snapshots")
    assert(regs(3).load().collect().map(_.datasetid).sorted.toSeq ==
      rows.map(_.datasetid).sorted.toSeq, "all instances must resolve the same head")
  }

  test("version directory stays bounded under sustained inserts (Q33 vacuum)") {
    // every commit rewrites a full snapshot into a fresh data-v dir; at
    // fleet cadence that directory must NOT grow with commit count —
    // per-commit pruning plus the maintenance-loop vacuum() keep it at
    // keepVersions (16) snapshots + markers whatever the insert volume
    val dir = Files.createTempDirectory("graft-registry-bounded").toString
    val path = s"$dir/registry"
    val reg = new DatasetRegistry(spark, path)
    (1 to 40).foreach(i => reg.insert(d, s"L$i", 1, 1))
    reg.vacuum()
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries = fs.listStatus(new org.apache.hadoop.fs.Path(s"$path.versions"))
      .map(_.getPath.getName).filterNot(_.startsWith(".tmp-"))
    val dataDirs = entries.count(_.startsWith("data-"))
    val markers = entries.count(_.startsWith("commit-"))
    assert(dataDirs <= 16, s"$dataDirs version dirs on disk after 40 inserts")
    assert(markers <= 16, s"$markers markers on disk after 40 inserts")
    assert(entries.length <= 32,
      s"unexpected extra entries: ${entries.sorted.mkString(",")}")
    // compaction must not change what queries see
    assert(reg.load().count() == 40)
    assert(reg.active().count() == 40)
    assert(reg.load().collect().map(_.datasetid).sorted.toSeq == (1L to 40L))
  }

  test("registry upgrades in place from a legacy bare-parquet table") {
    import org.apache.spark.sql.SaveMode
    val dir = Files.createTempDirectory("graft-registry-legacy").toString
    val path = s"$dir/registry"
    // seed a v0-layout table the way the old writer did (bare parquet)
    val reg0 = new DatasetRegistry(spark, path)
    val seeded = reg0.insert(d, "A", 1, 1)
    val legacyRows = reg0.load().collect()
    // relocate the snapshot to the bare path = the pre-protocol layout
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$path.versions"), true)
    import spark.implicits._
    spark.createDataset(legacyRows.toIndexedSeq).coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(path)
    // a fresh instance reads the legacy table as its base and commits on top
    val reg = new DatasetRegistry(spark, path)
    assert(reg.exists() && reg.load().count() == 1)
    val id2 = reg.insert(d, "A", 1, 1)
    assert(id2 == seeded + 1, "id allocation must continue from the legacy rows")
    val rows = reg.load().collect()
    assert(rows.length == 2 && rows.count(_.isactive) == 1)
  }

  test("snapshot growth audit: N mutations hold O(keepVersions) dirs and bytes, not O(N)") {
    // The registry rewrites its full (control-plane-sized) snapshot
    // per mutation; every commit also prunes. The metadata-plane bound
    // this pins for the 100 TB story (VERDICT r12 item 9): after N
    // mutations the version store holds ≤ keepVersions (16) committed
    // snapshots — file count and bytes are O(keepVersions · rows), the
    // mutation COUNT never leaks into storage. Vacuum is the same
    // sweep on demand and must be idempotent.
    val dir = java.nio.file.Files.createTempDirectory("graft-reg-growth").toString
    val reg = new DatasetRegistry(spark, s"$dir/registry")
    val d = Date.valueOf("2025-05-01")
    val root = new java.io.File(s"$dir/registry.versions")
    def dataDirs() = Option(root.listFiles()).getOrElse(Array.empty)
      .filter(f => f.getName.startsWith("data-") && f.isDirectory)
    def totalBytes(): Long = {
      def walk(f: java.io.File): Long =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
        else f.length()
      walk(root)
    }
    val n = 60
    val ids = (1 to n).map(i => reg.insert(d, s"ds_${i % 7}", 1, 1)) // 60 mutations
    ids.take(10).foreach(id => reg.setStatus(id, graft.model.DatasetStatus.Empty)) // 10 more
    val dirsAfter = dataDirs().length
    val bytesAfter = totalBytes()
    assert(dirsAfter <= 16 + 1, // +1: an in-flight commit may not be pruned yet
      s"${n + 10} mutations left $dirsAfter snapshot dirs — prune-per-commit broke")
    // per-snapshot cost is rows-sized: with 60 control rows a snapshot
    // is a few KB of parquet; 16 of them must stay well under a MB.
    assert(bytesAfter < (1L << 22),
      s"version store holds $bytesAfter bytes after ${n + 10} mutations")
    reg.vacuum()
    val dirsVac = dataDirs().length
    assert(dirsVac <= 16, s"vacuum left $dirsVac > keepVersions dirs")
    reg.vacuum() // idempotent
    assert(dataDirs().length == dirsVac)
    // the surviving head still carries the full logical state
    assert(reg.load().count() == n)
    info(s"growth audit: ${n + 10} mutations → $dirsAfter dirs, $bytesAfter bytes " +
      s"(${bytesAfter / math.max(1, dirsAfter)} B/snapshot); post-vacuum $dirsVac dirs")
  }

  test("snapshot round-trip: a fresh instance loads exactly the committed rows") {
    // seed rows with sub-millisecond timestamps and an open window
    // through a Spark-written legacy table; the next commit rewrites
    // them, with the new row, in the driver-written snapshot format
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-registry-roundtrip").toString
    val path = s"$dir/registry"
    val t1 = Timestamp.valueOf("2025-04-01 09:30:15.123456")
    val t2 = Timestamp.valueOf("2025-04-02 00:00:00.000001")
    val seed = Seq(
      DatasetMeta(1L, Date.valueOf("1999-12-31"), "A", 1, 1, DatasetStatus.Inactive.id,
        t1, Some(t2), isactive = false, t1, "seed"),
      DatasetMeta(2L, Date.valueOf("2025-04-01"), "A", 1, 2, DatasetStatus.Active.id,
        t2, None, isactive = true, t2, "seed"))
    spark.createDataset(seed).coalesce(1).write.parquet(path)
    val reg = new DatasetRegistry(spark, path)
    val id = reg.insert(Date.valueOf("2025-04-03"), "B", 2, 1)
    reg.setStatus(id, DatasetStatus.Empty)
    val inMemory = reg.load().collect().sortBy(_.datasetid).toSeq
    val fresh = new DatasetRegistry(spark, path).load().collect().sortBy(_.datasetid).toSeq
    assert(fresh == inMemory)
    assert(fresh.take(2) == seed)
    assert(fresh.count(_.effthrudate.isEmpty) == 2)
    assert(fresh.last.datastatusid == DatasetStatus.Empty.id && fresh.last.isactive)
  }

  test("lookups read the committed head across instances") {
    val dir = Files.createTempDirectory("graft-registry-lookups").toString
    val writer = new DatasetRegistry(spark, s"$dir/registry")
    val reader = new DatasetRegistry(spark, s"$dir/registry")
    assert(reader.latestActiveDate(1).isEmpty && reader.activeIds(1, d).isEmpty)
    val id1 = writer.insert(d, "A", 1, 1)
    val id2 = writer.insert(Date.valueOf("2025-04-02"), "A", 1, 1)
    writer.insert(Date.valueOf("2025-04-09"), "A", 2, 1) // another type
    assert(reader.latestActiveDate(1).contains(Date.valueOf("2025-04-02")))
    assert(reader.activeIds(1, d) == Seq(id1))
    val id3 = writer.insert(d, "A", 1, 1) // displaces id1
    assert(reader.activeIds(1, d) == Seq(id3))
    assert(reader.history("A", 1).map(_.datasetid) == Seq(id1, id3, id2))
  }
}
