package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.mr.MapReduceJob

/** The MapReduce parity surface exercised as a query: word count — the
  * reference's own canonical example job (reference submit.py:41-50
  * defaults to wc_map.sh / wc_reduce.sh) — run through the full
  * map → md5-partition → sort → reduce pipeline of
  * [[graft.mr.MapReduceJob]] and surfaced as a DataFrame.
  *
  * The reducer is the streaming sorted-run fold the reference contract
  * implies: same keys arrive contiguously, so one pass suffices
  * (reference worker/__main__.py:168-181).
  */
object MrPack extends QueryPack {

  /** Sum `key\tlong` runs of a sorted stream — wc_reduce.sh semantics. */
  def sumRuns(it: Iterator[String]): Iterator[String] = {
    val b = it.buffered
    new Iterator[String] {
      override def hasNext: Boolean = b.hasNext
      override def next(): String = {
        val key = b.head.takeWhile(_ != '\t')
        var c = 0L
        while (b.hasNext && b.head.takeWhile(_ != '\t') == key) {
          val line = b.next()
          val tab = line.indexOf('\t')
          c += (if (tab < 0) 1L else line.substring(tab + 1).toLong)
        }
        s"$key\t$c"
      }
    }
  }

  def queries: Seq[(String, Q)] = Seq(
    "mr01_wordcount" -> Q(
      run = (s, d) => {
        import s.implicits._
        // documents is one parquet file → spread the map stage first
        val lines = Tables.documents(s, d).select(col("text")).as[String]
          .rdd.repartition(s.sparkContext.defaultParallelism)
        val counted = MapReduceJob.typed(s, lines,
          mapper = line => line.split(" ").iterator.map(w => s"$w\t1"),
          reducer = sumRuns,
          numReducers = 8)
        counted
          .map { l =>
            val tab = l.indexOf('\t')
            (l.substring(0, tab), l.substring(tab + 1).toLong)
          }
          .toDF("word", "cnt")
          .orderBy("word")
      },
      oracle = Some("""
        SELECT t AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t ORDER BY word"""),
      bench = true),

    // Same job through the FULL executable contract — text-file input
    // dir (O1), shell mapper/reducer via RDD.pipe (O2/O6), md5 shuffle
    // (O3-O5), part-%05d sink (O7) — exactly what the reference CLI
    // submits (reference submit.py:41-50), then read back and compared
    // to the same relational oracle.
    "mr02_wordcount_exe" -> Q(
      run = (s, d) => {
        import java.nio.charset.StandardCharsets
        import java.nio.file.Files
        val work = Files.createTempDirectory("graft-mr02")
        val inDir = s"$work/input"
        graft.Tables.documents(s, d).select(col("text"))
          .repartition(4).write.mode("overwrite").text(inDir)
        def exe(name: String, script: String): String = {
          val p = work.resolve(name)
          Files.write(p, script.getBytes(StandardCharsets.UTF_8))
          p.toFile.setExecutable(true)
          p.toString
        }
        val mapExe = exe("wc_map.sh",
          "#!/bin/sh\ntr ' ' '\\n' | grep -v '^$' | sed 's/$/\\t1/'\n")
        val redExe = exe("wc_reduce.sh",
          "#!/bin/sh\nawk -F'\\t' '{ if ($1 != prev) { if (NR > 1) print prev \"\\t\" sum;\n" +
            "  prev = $1; sum = 0 } sum += $2 } END { if (NR > 0) print prev \"\\t\" sum }'\n")
        val outDir = s"$work/out"
        // the oracle gate drives the only sink: the staged part-file
        // commit (graft.sources.StagedParts)
        MapReduceJob.runExe(s, inDir, outDir, mapExe, redExe,
          numMappers = 3, numReducers = 4)
        import s.implicits._
        s.read.textFile(outDir)
          .map { l =>
            val tab = l.indexOf('\t')
            (l.substring(0, tab), l.substring(tab + 1).toLong)
          }
          .toDF("word", "cnt")
          .orderBy("word")
      },
      oracle = Some("""
        SELECT t AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t ORDER BY word""")),

    // Same word count with a MAP-SIDE COMBINER: sumRuns is associative
    // and commutative, so running it per map task before the shuffle
    // (MapReduceJob.typedWithCombiner) pre-folds each task's counts —
    // the shuffle moves one line per (task × word), not one per token —
    // and the final reduce over combined partials is provably the same
    // word count (same oracle as mr01).
    "mr03_wordcount_combiner" -> Q(
      run = (s, d) => {
        import s.implicits._
        val lines = Tables.documents(s, d).select(col("text")).as[String]
          .rdd.repartition(s.sparkContext.defaultParallelism)
        val counted = MapReduceJob.typedWithCombiner(s, lines,
          mapper = line => line.split(" ").iterator.map(w => s"$w\t1"),
          combiner = sumRuns,
          reducer = sumRuns,
          numReducers = 8)
        counted
          .map { l =>
            val tab = l.indexOf('\t')
            (l.substring(0, tab), l.substring(tab + 1).toLong)
          }
          .toDF("word", "cnt")
          .orderBy("word")
      },
      oracle = Some("""
        SELECT t AS word, count(*) AS cnt
        FROM (SELECT unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t ORDER BY word""")),

    // The OTHER canonical MapReduce job: an inverted index
    // (word → sorted distinct posting list), run through the same
    // typed map → md5-partition → sort → reduce pipeline. The mapper
    // emits `word\tdoc_id` per token; the reducer streams each sorted
    // run, dedups and sorts the postings numerically, and emits one
    // `word\tid,id,...` line. Postings here are bounded by the tiny
    // fixture vocab; at 100 TB a posting list for a stopword is
    // corpus-sized, so a real deployment shards the key space
    // ((word, docid % S) composite keys) — the pipeline shape is
    // unchanged, which is why this query documents rather than
    // implements the shard split.
    "mr04_inverted_index" -> Q(
      run = (s, d) => {
        import s.implicits._
        val lines = Tables.documents(s, d)
          .select(concat_ws("\t", col("doc_id"), col("text")))
          .as[String].rdd.repartition(s.sparkContext.defaultParallelism)
        val postings = MapReduceJob.typed(s, lines,
          mapper = { line =>
            val tab = line.indexOf('\t')
            val id = line.substring(0, tab)
            line.substring(tab + 1).split(" ").iterator.map(w => s"$w\t$id")
          },
          reducer = { it =>
            val b = it.buffered
            new Iterator[String] {
              override def hasNext: Boolean = b.hasNext
              override def next(): String = {
                val key = b.head.takeWhile(_ != '\t')
                val ids = scala.collection.mutable.SortedSet.empty[Long]
                while (b.hasNext && b.head.takeWhile(_ != '\t') == key) {
                  val line = b.next()
                  ids += line.substring(line.indexOf('\t') + 1).toLong
                }
                s"$key\t${ids.mkString(",")}"
              }
            }
          },
          numReducers = 8)
        postings
          .map { l =>
            val tab = l.indexOf('\t')
            val docs = l.substring(tab + 1)
            (l.substring(0, tab), docs.count(_ == ',') + 1L, docs)
          }
          .toDF("word", "n_docs", "docs")
          .orderBy("word")
      },
      oracle = Some("""
        SELECT t AS word,
               CAST(len(list_sort(list_distinct(list(doc_id)))) AS BIGINT) AS n_docs,
               array_to_string(list_sort(list_distinct(list(doc_id))), ',') AS docs
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS t FROM documents)
        GROUP BY t ORDER BY word""")),

    // ── Secondary sort ─────────────────────────────────────────────────
    // The classic Hadoop pattern the reference's whole-line sort gives
    // for free (worker sorts `key\tvalue` LINES, so values arrive
    // ordered within each key run — reference worker/__main__.py:152-166):
    // the reducer reads each user's event times already ascending and
    // emits first/last/count in ONE forward pass with no buffering.
    // Values are zero-padded to fixed width so lexical order == numeric
    // order — the contract every secondary-sort MR job encodes in its
    // key/value format. The oracle proves order-correctness: first==min
    // and last==max only if the runs really were sorted.
    "mr05_secondary_sort" -> Q(
      run = (s, d) => {
        import s.implicits._
        val lines = Tables.events(s, d)
          .select(concat_ws(" ", col("user_id"),
            lpad(unix_micros(col("ts")).cast("string"), 20, "0")))
          .as[String].rdd.repartition(s.sparkContext.defaultParallelism)
        val folded = MapReduceJob.typed(s, lines,
          mapper = line => {
            val sp = line.indexOf(' ')
            Iterator.single(s"${line.substring(0, sp)}\t${line.substring(sp + 1)}")
          },
          reducer = it => {
            val b = it.buffered
            new Iterator[String] {
              override def hasNext: Boolean = b.hasNext
              override def next(): String = {
                val key = b.head.takeWhile(_ != '\t')
                var first: String = null
                var last: String = null
                var n = 0L
                while (b.hasNext && b.head.takeWhile(_ != '\t') == key) {
                  val line = b.next()
                  val v = line.substring(line.indexOf('\t') + 1)
                  if (first == null) first = v
                  last = v
                  n += 1
                }
                s"$key\t$first\t$last\t$n"
              }
            }
          },
          numReducers = 8)
        folded
          .map { l =>
            val Array(u, f, t, n) = l.split('\t')
            (u.toLong, f.toLong, t.toLong, n.toLong)
          }
          .toDF("user_id", "first_us", "last_us", "n_events")
          .orderBy("user_id")
      },
      oracle = Some("""
        SELECT user_id, min(epoch_us(ts)) AS first_us,
               max(epoch_us(ts)) AS last_us, count(*) AS n_events
        FROM events GROUP BY user_id ORDER BY user_id""")),

    // The production-shaped exe path under a mapper that is genuinely
    // STATEFUL across lines (`awk END{...}` — it emits ONE line per
    // INVOCATION), so the answer is correct only at the reference's
    // exact invocation granularity: once per input file
    // (perFileMapper=true; worker/__main__.py:126-133). The default
    // once-per-partition piping would fold multiple files into one awk
    // run and emit too few lines — this query makes the oracle gate,
    // not just a spec, sensitive to that divergence, and it drives the
    // only sink, the staged part-file commit. Input: one
    // text file per document language (written deterministically from
    // the documents table), so the multiset of per-file line counts
    // equals the language histogram — distinct values at every SF.
    "mr06_stateful_perfile" -> Q(
      run = (s, d) => {
        import java.nio.charset.StandardCharsets
        import java.nio.file.{Files, Paths}
        import scala.jdk.CollectionConverters._
        val work = Files.createTempDirectory("graft-mr06")
        val inDir = s"$work/in"
        Files.createDirectories(Paths.get(inDir))
        val langs = Tables.documents(s, d).select(col("lang"))
          .distinct().collect().map(_.getString(0)).sorted
        langs.foreach { lg =>
          val tmp = s"$work/tmp-$lg"
          Tables.documents(s, d).filter(col("lang") === lg)
            .select(col("text"))
            .coalesce(1).write.mode("overwrite").text(tmp)
          val part = Files.list(Paths.get(tmp)).iterator().asScala
            .find(_.getFileName.toString.startsWith("part-")).get
          Files.move(part, Paths.get(inDir, s"$lg.txt"))
        }
        def exe(name: String, script: String): String = {
          val p = work.resolve(name)
          Files.write(p, script.getBytes(StandardCharsets.UTF_8))
          p.toFile.setExecutable(true)
          p.toString
        }
        val mapExe = exe("lines_map.sh",
          "#!/bin/sh\nawk 'END { print \"n\\t\" NR }'\n")
        val redExe = exe("id_reduce.sh", "#!/bin/sh\ncat\n")
        val outDir = s"$work/out"
        // numMappers deliberately < file count: the per-partition mode
        // would pipe several files through ONE awk and lose rows
        MapReduceJob.runExe(s, inDir, outDir, mapExe, redExe,
          numMappers = 2, numReducers = 2,
          perFileMapper = true)
        import s.implicits._
        s.read.textFile(outDir)
          .map(l => l.substring(l.indexOf('\t') + 1).toLong)
          .toDF("cnt")
          .orderBy("cnt")
      },
      oracle = Some("""
        SELECT CAST(count(*) AS BIGINT) AS cnt
        FROM documents GROUP BY lang ORDER BY cnt"""))
  )
}
