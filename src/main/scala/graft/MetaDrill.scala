package graft
import org.apache.spark.sql.functions._

/** Metadata-scale drill: drive one
  * manifested table to ~100k data files (1k partitions × 100 files) and
  * measure the metadata-path ops — file-scoped MERGE planning, $files,
  * changelog, compaction probe — against a 10× smaller table, to show
  * each op is ≤ ~linear in TOUCHED files (flat vs table size where only
  * metadata volume grows). Scratch main: results land in PLANS.md. */
object MetaDrill {
  def timed[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[drill] $label ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val parts = args.headOption.map(_.toInt).getOrElse(1000)
    val filesPer = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    // keep the SEED's file fan-out: planned-write would re-shuffle on
    // the partition column and collapse each dir to one file
    val spark = LocalSession("ERROR",
      Map("spark.sql.optimizer.plannedWrite.enabled" -> "false"))
    import spark.implicits._
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots

    val base = java.nio.file.Files.createTempDirectory(
      s"drill_${parts}x$filesPer").toString
    val path = s"$base/t"
    println(s"[drill] table=$path parts=$parts filesPer=$filesPer " +
      s"(~${parts * filesPer} files)")

    // rows: 2 per file → tiny data, real file/manifest counts.
    // repartition(filesPer, salt) → each of the `filesPer` tasks writes
    // one file into every partition dir it holds rows for.
    val n = parts * filesPer * 2
    // --range-parts: partition value CORRELATES with the key range (the
    // time-partitioned-fact shape: recent keys → recent partitions), so
    // each partition's manifest key bounds are disjoint and the stats-
    // pruned matched-key lookup can exclude almost everything. Default
    // (id % parts) interleaves keys across partitions — every
    // partition's bounds span the key space, the pruning's worst case.
    val rangeParts = args.contains("--range-parts")
    val df = spark.range(n.toLong).select(
      col("id").cast("long").as("k"),
      (if (rangeParts) (col("id") / (n / parts)).cast("int")
       else (col("id") % parts).cast("int")).as("part"),
      // DECORRELATED from the partition value, so each partition's rows
      // spread over all `filesPer` salts and every task writes into
      // every dir: with range partitions (id/(n/parts)) consecutive ids
      // share a dir → id%filesPer varies within it; with interleaved
      // partitions (id%parts) → (id/parts)%filesPer varies within it
      (if (rangeParts) (col("id") % filesPer)
       else ((col("id") / parts) % filesPer)).cast("int").as("salt"),
      (col("id") * 3L).as("v"))
      .repartition(filesPer, col("salt")).drop("salt")
    // --sized-seed: the SAME row volume seeded with the 128 MB write
    // target (graft.write.targetFileSizeBytes) vs the fan-out layout —
    // the round-12 decomposition showed ~85% of the 65k-file seed cost
    // is Spark's per-file writer init; the target collapses the file
    // count to Σ ⌈dir bytes/target⌉ (= `parts` here: tiny dirs) and the
    // wall time with it. Prints both, then exits.
    if (args.contains("--sized-seed")) {
      timed(s"seed FAN-OUT (${parts * filesPer} files)") {
        Upsert.append(spark, s"$base/t_fanout", df, Seq("part"))
      }
      println("[drill] fan-out files = " +
        PartitionSnapshots.filesMeta(spark, s"$base/t_fanout").count())
      spark.conf.set("graft.write.targetFileSizeBytes",
        (128L * 1024 * 1024).toString)
      timed(s"seed SIZED (128 MB target, same $n rows)") {
        Upsert.append(spark, s"$base/t_sized", df, Seq("part"))
      }
      println("[drill] sized files = " +
        PartitionSnapshots.filesMeta(spark, s"$base/t_sized").count())
      spark.conf.unset("graft.write.targetFileSizeBytes")
      // the sized table still answers: full row count + a point merge
      require(PartitionSnapshots.read(spark, s"$base/t_sized").count() == n,
        "sized seed lost rows")
      timed("sized table: 1 point merge") {
        Upsert.upsert(spark, s"$base/t_sized",
          Seq((37L, 37 % parts, 5L)).toDF("k", "part", "v"),
          Seq("k"), partitionCols = Seq("part"))
      }
      spark.stop(); return
    }
    timed(s"seed append (${parts * filesPer} files)") {
      Upsert.append(spark, path, df, Seq("part"))
    }
    // --rowsql: the row-level SQL statements at the 65k-file decade
    // (round-12 verdict ask): a 1-row UPDATE, a point DELETE, and a
    // conditional MERGE must cost O(candidate partitions), not
    // O(all files) — the stats-pruned row-pos scan is what makes the
    // positional paths metadata-speed. Also prints the TOUCHED-file
    // count of the UPDATE's commit (must be 1 for a 1-row UPDATE).
    if (args.contains("--rowsql")) {
      val cat = new graft.sources.Catalog(spark, base)
      val k1 = n / 2L + 1
      timed(s"1-row SQL UPDATE (k=$k1)") {
        cat.sql(s"UPDATE t SET v = v + 1 WHERE k = $k1")
      }
      val touched = spark.read
        .parquet(s"$path/_deletes/p00000001")
        .select("_del_path").distinct().count()
      println(s"[drill] UPDATE touched files = $touched (expect 1)")
      timed("3-key SQL DELETE (IN-list, equality route)") {
        cat.sql(s"DELETE FROM t WHERE k IN (17, ${n / 3L}, ${n - 5L})")
      }
      timed("predicate SQL DELETE (positional route, stats-pruned)") {
        cat.sql(s"DELETE FROM t WHERE k = ${n / 5L} AND v >= 0")
      }
      Seq((n / 7L, ((n / 7L) % parts).toInt, -1L),
          (n + 99L, 0, 7L)).toDF("k", "part", "v")
        .createOrReplaceTempView("drill_msrc")
      timed("conditional MERGE (delete+update+insert clauses, one commit)") {
        cat.sql(
          """MERGE INTO t t USING drill_msrc s ON t.k = s.k
            |WHEN MATCHED AND s.v < 0 THEN UPDATE SET v = t.v - 1
            |WHEN MATCHED THEN UPDATE SET *
            |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
      println("[drill] post-rowsql rows = " +
        timed("full count")(PartitionSnapshots.read(spark, path).count()))
      spark.stop(); return
    }
    val fm = timed("$files full listing") {
      PartitionSnapshots.filesMeta(spark, path)
    }
    println("[drill] files rows = " + timed("$files count")(fm.count()))

    // scattered point-key MERGE: 5 single keys in 5 different partitions —
    // file-scoped planning reads ONLY the touched partitions' sidecars
    val keys = Seq(37L, n / 7L, n / 3L, n / 2L, n - 11L)
    timed("5 scattered single-key merges (file-scoped)") {
      keys.foreach { k =>
        val part = if (rangeParts) (k / (n / parts)).toInt
                   else (k % parts).toInt
        timed(s"  merge key=$k") {
          Upsert.upsert(spark, path,
            Seq((k, part, k * 5)).toDF("k", "part", "v"),
            Seq("k"), partitionCols = Seq("part"))
        }
      }
    }
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    println("[drill] survivors in touched states: " +
      PartitionSnapshots.rootManifest(spark, path).get.values
        .count(_.contains("/")))
    timed("changelog changes(head-1 -> head) count") {
      println("[drill] feed rows = " +
        PartitionSnapshots.changes(spark, path, head - 1, head).count())
    }
    timed("changedPartitions(seed -> head)") {
      println("[drill] changed rels = " +
        PartitionSnapshots.changedPartitions(spark, path, 1L, head).size)
    }
    timed("compaction probe (minFiles above threshold: pure planning)") {
      // minFiles > filesPer+1 → nothing qualifies; measures the probe walk
      println("[drill] compact probe rewrote = " +
        PartitionSnapshots.compact(spark, path,
          minFiles = filesPer + 50).size)
    }
    // --sort-compact: the round-11 verdict's open cliff — mid-range keys
    // that EVERY partition's bounds interval admits pay the full lookup
    // (~27 s at 65k files on the interleaved layout). Sorted compaction
    // is the shipped layout repair for an already-written table: measure
    // the SAME unprunable keys before and after compact(sortWithin=k).
    if (args.contains("--sort-compact")) {
      val mid = Seq(n / 4L + 571L, n / 2L, (3L * n) / 4L - 137L)
      def midMerge(tag: String): Unit = mid.foreach { k =>
        val part = if (rangeParts) (k / (n / parts)).toInt
                   else (k % parts).toInt
        timed(s"  $tag merge mid-key=$k") {
          Upsert.upsert(spark, path,
            Seq((k, part, k * 7)).toDF("k", "part", "v"),
            Seq("k"), partitionCols = Seq("part"))
        }
      }
      timed("3 mid-range merges PRE-compact (unprunable bounds)") {
        midMerge("pre")
      }
      timed(s"compact(sortWithin = k) over all $parts partitions") {
        val res = PartitionSnapshots.compact(spark, path,
          sortWithin = Seq("k"))
        println(s"[drill] compacted partitions = ${res.size}, " +
          s"files ${res.values.map(_._1).sum} -> ${res.values.map(_._2).sum}")
      }
      timed("3 mid-range merges POST-compact (same keys)") {
        midMerge("post")
      }
      println("[drill] post-compact survivors in touched states: " +
        PartitionSnapshots.rootManifest(spark, path).get.values
          .count(_.contains("/")))
    }
    // round-10 pool drill replication: one merge touching EVERY partition
    if (args.contains("--all-merge")) {
      timed(s"${2 * parts}-key merge touching all $parts partitions") {
        val ks = spark.range(2L * parts).select(
          col("id").as("k"), (col("id") % parts).cast("int").as("part"),
          lit(-1L).as("v"))
        Upsert.upsert(spark, path, ks, Seq("k"), partitionCols = Seq("part"))
      }
    }
    timed("partitionsMeta") {
      println("[drill] partitions = " +
        PartitionSnapshots.partitionsMeta(spark, path).count())
    }
    timed("full read count") {
      println("[drill] rows = " + PartitionSnapshots.read(spark, path).count())
    }
    spark.stop()
  }
}

/** Commit-chain DEPTH drill (the fourth metadata decade: the file drills
  * scaled file COUNT; this scales commit HISTORY): drive one small table
  * to `N` commits at the default rebase cadence ([[graft.sources
  * .PartitionSnapshots.RebaseEvery]] = 8 — a full manifest every 8th
  * commit, deltas between), then measure the depth-sensitive ops —
  * head resolution, mid-chain time travel, a long-window changelog,
  * tag reads, time-based expiry. Scratch main; results land in
  * PLANS.md. Usage: `runMain graft.ChainDrill [commits] [parts]`. */
object ChainDrill {
  import MetaDrill.timed
  def main(args: Array[String]): Unit = {
    val commits = args.headOption.map(_.toInt).getOrElse(5000)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(8)
    val spark = LocalSession("ERROR", Map("spark.sql.shuffle.partitions" -> "4"))
    import spark.implicits._
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots
    val base = java.nio.file.Files.createTempDirectory(
      s"chain_$commits").toString
    val path = s"$base/t"
    println(s"[chain] table=$path commits=$commits parts=$parts")
    // retention window deep enough for a long-window changelog but
    // bounded (retaining ALL 5k roots would make each commit's vacuum
    // walk the whole history — O(n²) across the drill, and no real
    // deployment retains unbounded count anyway); the SEED is tagged
    // up front so one pinned root rides through every vacuum + expiry
    val retain = 300
    Upsert.append(spark, path,
      Seq((0L, 0, 0L)).toDF("k", "part", "v"), Seq("part"),
      retainVersions = retain)
    PartitionSnapshots.tagRoot(spark, path, "seed", 1L)
    // compaction CADENCE (every 500 commits), as a real ingest table
    // runs: appends union parts into partition states, so an append-only
    // chain grows each state — and every reader/committer of it —
    // linearly (O(n²) across the chain); the nightly compact is what
    // bounds it. The drill measures the real operating mode.
    timed(s"${commits - 1} single-row append commits (retain=$retain, " +
      "compact every 500)") {
      var i = 1
      while (i < commits) {
        Upsert.append(spark, path,
          Seq((i.toLong, i % parts, i * 3L)).toDF("k", "part", "v"),
          Seq("part"), retainVersions = retain)
        i += 1
        if (i % 500 == 0) {
          timed(s"  compact @ $i commits")(
            PartitionSnapshots.compact(spark, path, minFiles = 1,
              retainVersions = retain))
          println(s"[chain]   $i commits")
        }
      }
    }
    val head = PartitionSnapshots.currentRootVersion(spark, path).get
    println(s"[chain] head root version = $head")
    timed("resolve head manifest (cold cache)") {
      println("[chain] head entries = " +
        PartitionSnapshots.rootManifest(spark, path).get.size)
    }
    timed("resolve head manifest again (chain is <=RebaseEvery hops)") {
      PartitionSnapshots.rootManifest(spark, path).get.size
    }
    timed("time travel 150 commits back (inside the retained window)") {
      println("[chain] asOf rows = " +
        PartitionSnapshots.read(spark, path, asOf = head - 150).count())
    }
    timed("changedPartitions over the FULL window (1 -> head)") {
      println("[chain] changed rels = " +
        PartitionSnapshots.changedPartitions(spark, path, 1L, head).size)
    }
    timed(s"changelog changes over a ${math.min(100, commits / 2)}-commit window") {
      println("[chain] feed rows = " + PartitionSnapshots.changes(spark, path,
        head - math.min(100, commits / 2), head).count())
    }
    timed("snapshotsMeta over the full retained chain") {
      println("[chain] snapshots rows = " +
        PartitionSnapshots.snapshotsMeta(spark, path).count())
    }
    timed("tag read (seed)") {
      println("[chain] seed rows = " +
        PartitionSnapshots.readTag(spark, path, "seed").count())
    }
    timed("expireRoots(olderThan = 0) — everything unpinned goes") {
      val expired = PartitionSnapshots.expireRoots(spark, path, 0L,
        retainVersions = 4)
      println(s"[chain] expired ${expired.size} roots")
    }
    timed("post-expiry head read") {
      println("[chain] rows = " + PartitionSnapshots.read(spark, path).count())
    }
    timed("post-expiry tag read (seed pinned through expiry)") {
      println("[chain] seed rows = " +
        PartitionSnapshots.readTag(spark, path, "seed").count())
    }
    spark.stop()
  }
}

/** DATA-decade drill for the round-13 SQL surfaces (round-14 verdict ask
  * 7): the file-sizing knob, the atomic general MERGE (q194 shape:
  * assignment lists + WHEN NOT MATCHED BY SOURCE), INSERT OVERWRITE
  * (q198 shape), and the point row-level statements (q197 shape) at
  * REAL data volume — run once at "sf1" (~6M fact rows) and once at
  * "sf10" (~60M), the PLANS table shows ≤ ~linear scaling. Usage:
  * `runMain graft.SqlScaleDrill [rows] [parts]`. */
object SqlScaleDrill {
  import MetaDrill.timed

  def main(args: Array[String]): Unit = {
    val rows = args.headOption.map(_.toLong).getOrElse(6_000_000L)
    val parts = args.drop(1).headOption.map(_.toInt).getOrElse(100)
    // the r13 write-side sizing knob ON — this drill is its data-decade
    val spark = LocalSession("ERROR",
      Map("graft.write.targetFileSizeBytes" -> (128L * 1024 * 1024).toString))
    import spark.implicits._
    import graft.operators.Upsert
    import graft.sources.PartitionSnapshots

    val base = java.nio.file.Files.createTempDirectory(
      s"sqlscale_$rows").toString
    val t = s"$base/t"
    println(s"[drill] table=$t rows=$rows parts=$parts (sized writes)")
    val per = rows / parts
    def fact(lo: Long, hi: Long) = spark.range(lo, hi).select(
      col("id").as("k"), (col("id") / per).cast("int").as("part"),
      (col("id") % 997).cast("double").as("v"),
      concat(lit("row-"), col("id")).as("tag"))

    timed(s"seed $rows rows (sized fan-in)") {
      Upsert.upsert(spark, t, fact(0, rows), Seq("k"),
        partitionCols = Seq("part"))
    }
    println("[drill] seed files = " +
      PartitionSnapshots.filesMeta(spark, t).count())
    val cat = new graft.sources.Catalog(spark, base)

    // q198 shape: INSERT OVERWRITE of ONE partition (recomputed rows)
    fact(37L * per, 38L * per)
      .withColumn("v", col("v") + 1000.0)
      .createOrReplaceGlobalTempView("ovr_src")
    timed("INSERT OVERWRITE one partition (1% of rows)") {
      // positional mapping: partition columns LAST, the hive contract
      cat.sql("INSERT OVERWRITE t SELECT k, v, tag, part FROM global_temp.ovr_src")
    }

    // q194 shape WITHOUT BY SOURCE: O(affected) — 0.1% of keys spread
    // over every partition + 0.01% inserts, assignment lists
    spark.range(0, rows, 1000).select(col("id").as("k"),
      lit(-1.0).as("dv"))
      .unionByName(spark.range(rows, rows + rows / 10000)
        .select(col("id").as("k"), lit(7.0).as("dv")))
      .createOrReplaceGlobalTempView("m_src")
    timed("general MERGE, assignment lists, no BY SOURCE (0.1% touched)") {
      cat.sql(
        s"""MERGE INTO t t USING global_temp.m_src s ON t.k = s.k
           |WHEN MATCHED AND s.dv < 0 THEN UPDATE SET v = t.v - 1
           |WHEN MATCHED THEN UPDATE SET v = s.dv
           |WHEN NOT MATCHED THEN INSERT (k, part, v)
           |  VALUES (s.k, ${parts - 1}, s.dv)""".stripMargin)
    }

    // q194 shape WITH BY SOURCE: semantically O(table) — every
    // unmatched target row is classified; linear in table size is the
    // honest floor
    timed("general MERGE with WHEN NOT MATCHED BY SOURCE (O(table) semantics)") {
      cat.sql(
        """MERGE INTO t t USING global_temp.m_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.dv
          |WHEN NOT MATCHED BY SOURCE AND t.v > 990 THEN UPDATE SET v = 990
          |""".stripMargin)
    }

    // the SELECTIVE BY SOURCE variant: source keys AND the clause
    // condition both confine to ~1 partition — the matched/insert legs
    // stats-prune by the source keys, the BY SOURCE classification
    // prunes by the compiled condition (condPossible pushdown), so the
    // WHOLE statement must scale with the admitted bytes, not the table
    spark.range(11L * per, 11L * per + 10).select(col("id").as("k"),
      lit(-2.0).as("dv")).createOrReplaceGlobalTempView("m_src_sel")
    timed("general MERGE + selective BY SOURCE (bounds admit ~1% of rows)") {
      // the clause's k-range admits ONE partition's bounds (the scan
      // prunes to it) and fires on ~1% of that partition's rows (so the
      // row times the SCAN pruning, not a mass update's commit volume)
      cat.sql(
        s"""MERGE INTO t t USING global_temp.m_src_sel s ON t.k = s.k
           |WHEN MATCHED THEN UPDATE SET v = s.dv
           |WHEN NOT MATCHED BY SOURCE AND t.k >= ${11L * per}
           |  AND t.k < ${11L * per + per / 100} AND t.v > 200
           |  THEN UPDATE SET v = 200
           |""".stripMargin)
    }

    // q197 shape: the point statements at data volume
    timed("1-row SQL UPDATE") {
      cat.sql(s"UPDATE t SET v = v + 1 WHERE k = ${rows / 2}")
    }
    timed("3-key SQL DELETE (IN-list)") {
      cat.sql(s"DELETE FROM t WHERE k IN (17, ${rows / 3}, ${rows - 5})")
    }
    println("[drill] final count = " +
      timed("full count")(PartitionSnapshots.read(spark, t).count()))
    spark.stop()
  }
}
