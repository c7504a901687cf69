package graft.bench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

/** Seeded input generators. Each writes its workload's raw input files
  * under `dir` and returns the truth it planted; the engine only ever
  * sees the files. The same (seed, sizes) always writes the same bytes.
  */
object Gen {

  val SalesHeader = "date,store_id,product_id,units_sold,sales_amount"
  /** Day 0 of every generated sales table. */
  val Day0: LocalDate = LocalDate.of(2024, 1, 1)
  /** Key-checksum epoch: `datediff(date, KeyEpoch)` is the day part. */
  val KeyEpoch: LocalDate = LocalDate.of(2020, 1, 1)
  private val Day0Index = java.time.temporal.ChronoUnit.DAYS.between(KeyEpoch, Day0)

  def day(d: Int): String = Day0.plusDays(d.toLong).toString
  def pid(p: Int): String = f"P$p%06d"
  private def cents(c: Long): String =
    (if (c < 0) "-" else "") + s"${math.abs(c) / 100}." + f"${math.abs(c) % 100}%02d"

  private def writer(f: File): BufferedWriter = {
    f.getParentFile.mkdirs()
    new BufferedWriter(new FileWriter(f), 1 << 16)
  }

  // ── products (shared by both etl workloads) ──────────────────────────

  final case class ProductsTruth(kept: Long, nullPrice: Set[Int], minPrice: Double,
      exactDups: Int, zeroPrice: Int)

  /** A JSON document holding one array of `n` product records. With
    * `defects`, ~1% of records repeat exactly, ~1% carry a null price
    * (dropped by the transform, so sales rows naming them become orphans)
    * and ~0.5% a zero price (kept; fails the strictly-positive check). */
  def products(rng: SplittableRandom, n: Int, f: File, defects: Boolean): ProductsTruth = {
    val w = writer(f)
    val nulls = mutable.Set.empty[Int]
    var dups, zeros = 0
    var minPrice = Double.MaxValue
    w.write("[\n")
    var first = true
    def rec(s: String): Unit = { if (!first) w.write(",\n"); w.write(s); first = false }
    for (p <- 0 until n) {
      val r = if (defects) rng.nextDouble() else 1.0
      val price =
        if (r < 0.01) { nulls += p; "null" }
        else if (r < 0.015) { zeros += 1; minPrice = 0.0; "0.0" }
        else {
          val c = 100L + rng.nextLong(49900L)
          minPrice = math.min(minPrice, cents(c).toDouble)
          cents(c)
        }
      val s = s"""{"product_id":"${pid(p)}","product_name":"product $p","price":$price}"""
      rec(s)
      if (r >= 0.015 && r < 0.025) { dups += 1; rec(s) }
    }
    w.write("\n]\n")
    w.close()
    ProductsTruth(n - nulls.size, nulls.toSet, minPrice, dups, zeros)
  }

  // ── etl_full_load ────────────────────────────────────────────────────

  /** Planted truth of one store_sales CSV: what survives the transform
    * and what each validation check must then report. */
  final case class SalesTruth(
      rows: Long, kept: Long, badDates: Int, badUnits: Int,
      dupKeys: Set[(String, String)], orphans: Long, negatives: Int,
      minAmount: Double, minUnits: Long)

  final case class FullLoadInputs(salesCsv: File, productsJson: File,
      sales: SalesTruth, products: ProductsTruth) {
    def summary: String =
      s"sales ${sales.rows} rows: ${sales.badDates} bad dates, ${sales.badUnits} bad units, " +
        s"${sales.dupKeys.size} duplicate keys, ${sales.orphans} orphan rows, " +
        s"${sales.negatives} negative amounts; products: ${products.exactDups} exact duplicates, " +
        s"${products.nullPrice.size} null prices, ${products.zeroPrice} zero prices"
  }

  def fullLoad(seed: Long, dir: File, rows: Int, nProducts: Int): FullLoadInputs = {
    val rng = new SplittableRandom(seed * 1000003L + 11L)
    val productsJson = new File(dir, "products.json")
    val pt = products(rng, nProducts, productsJson, defects = true)
    val salesCsv = new File(dir, "store_sales.csv")
    val w = writer(salesCsv)
    w.write(SalesHeader); w.write('\n')
    // clean keys are unique by construction: key k -> (product k % P, day k / P)
    var nextKey = 0
    val keyed = mutable.ArrayBuffer.empty[(String, String)] // duplicable keys
    val dupKeys = mutable.LinkedHashSet.empty[(String, String)]
    var kept, orphans = 0L
    var badDates, badUnits, negatives, orphanSeq = 0
    var minAmount = Double.MaxValue
    var minUnits = Long.MaxValue
    val badDateValues = Array("n/a", "2024-13-01", "31/02/2024", "not-a-date")
    def row(d: String, store: Int, p: String, units: String, amount: String): Unit = {
      w.write(d); w.write(','); w.write(f"S$store%03d"); w.write(',')
      w.write(p); w.write(','); w.write(units); w.write(','); w.write(amount); w.write('\n')
    }
    def keptRow(d: String, p: String, pIdx: Int, units: Int, amountCents: Long): Unit = {
      row(d, rng.nextInt(50), p, units.toString, cents(amountCents))
      kept += 1
      minAmount = math.min(minAmount, cents(amountCents).toDouble)
      minUnits = math.min(minUnits, units.toLong)
      if (pIdx < 0 || pt.nullPrice.contains(pIdx)) orphans += 1
    }
    def fresh(k: Int, units: Int, amount: Long): Unit = {
      val (p, d) = (k % nProducts, day(k / nProducts))
      keptRow(d, pid(p), p, units, amount)
      keyed += ((d, pid(p)))
    }
    for (_ <- 0 until rows) {
      val r = rng.nextDouble()
      val units = 1 + rng.nextInt(20)
      val amount = units * (50L + rng.nextLong(5000L))
      if (r < 0.005) {
        badDates += 1
        row(badDateValues(rng.nextInt(badDateValues.length)), rng.nextInt(50),
          pid(rng.nextInt(nProducts)), units.toString, cents(amount))
      } else if (r < 0.010) {
        badUnits += 1
        row(day(rng.nextInt(60)), rng.nextInt(50), pid(rng.nextInt(nProducts)),
          s"x$units", cents(amount))
      } else if (r < 0.012 && keyed.nonEmpty) {
        // a second row for an already-loaded (product_id, date) key
        val (d, p) = keyed(rng.nextInt(keyed.size))
        if (dupKeys.add((p, d))) keptRow(d, p, p.drop(1).toInt, units, amount)
        else { val k = nextKey; nextKey += 1; fresh(k, units, amount) }
      } else if (r < 0.014) {
        orphanSeq += 1
        keptRow(day(rng.nextInt(60)), f"X$orphanSeq%06d", -1, units, amount)
      } else {
        val k = nextKey; nextKey += 1
        if (r < 0.015) { negatives += 1; fresh(k, units, -amount) }
        else fresh(k, units, amount)
      }
    }
    w.close()
    FullLoadInputs(salesCsv, productsJson,
      SalesTruth(rows, kept, badDates, badUnits, dupKeys.toSet, orphans, negatives,
        minAmount, minUnits), pt)
  }

  // ── etl_daily_merge ──────────────────────────────────────────────────

  final case class Delta(csv: File, day: Int, bytes: Long, expectedRows: Long)
  final case class MergeInputs(baseCsv: File, productsJson: File, nProducts: Int,
      baseRows: Long, deltas: Seq[Delta],
      finalRows: Long, keySum: Long, amountSum: Long) {
    def summary: String =
      s"base $baseRows rows, ${deltas.size} deltas of ${deltas.map(_.bytes).sum / deltas.size} bytes, " +
        s"final $finalRows rows"
  }

  /** A clean month-partitionable base table plus `nDeltas` daily deltas.
    * Each delta holds the new day's sales, late-arriving rows for the
    * last 30 days, corrections of existing keys in those days (upserts)
    * and a few unparseable rows the transform drops. Keys are unique
    * within a delta. The truth is the table after every delta. */
  def dailyMerge(seed: Long, dir: File, baseDays: Int, baseRows: Int, nProducts: Int,
      nDeltas: Int, deltaRows: Int): MergeInputs = {
    val rng = new SplittableRandom(seed * 1000003L + 23L)
    val productsJson = new File(dir, "products.json")
    products(rng, nProducts, productsJson, defects = false)
    val table = new java.util.HashMap[Long, Long]() // key -> amount cents
    def key(p: Int, d: Int): Long = p.toLong * 100000L + d
    def line(w: BufferedWriter, d: Int, p: Int, units: Int, c: Long): Unit =
      w.write(s"${day(d)},S${"%03d".format(rng.nextInt(50))},${pid(p)},$units,${cents(c)}\n")
    val baseCsv = new File(dir, "base.csv")
    val bw = writer(baseCsv)
    bw.write(SalesHeader); bw.write('\n')
    require(baseRows <= baseDays.toLong * nProducts, "base larger than its key space")
    for (k <- 0 until baseRows) {
      val (d, p) = (k % baseDays, k / baseDays)
      val units = 1 + rng.nextInt(20)
      val c = units * (50L + rng.nextLong(5000L))
      line(bw, d, p, units, c)
      table.put(key(p, d), c)
    }
    bw.close()
    val deltas = (1 to nDeltas).map { i =>
      val today = baseDays - 1 + i
      val f = new File(dir, f"delta_$i%03d.csv")
      val w = writer(f)
      w.write(SalesHeader); w.write('\n')
      val seen = mutable.HashSet.empty[Long]
      val nNew = deltaRows * 6 / 10
      val nLate = deltaRows * 2 / 10
      val nCorr = deltaRows - nNew - nLate
      def emit(p: Int, d: Int): Unit = {
        val units = 1 + rng.nextInt(20)
        val c = units * (50L + rng.nextLong(5000L))
        line(w, d, p, units, c)
        table.put(key(p, d), c)
        seen += key(p, d)
      }
      var n = 0
      while (n < nNew) {
        val p = rng.nextInt(nProducts)
        if (!seen.contains(key(p, today))) { emit(p, today); n += 1 }
      }
      n = 0
      while (n < nLate) {
        val (p, d) = (rng.nextInt(nProducts), today - 1 - rng.nextInt(30))
        if (!seen.contains(key(p, d)) && !table.containsKey(key(p, d))) { emit(p, d); n += 1 }
      }
      n = 0
      while (n < nCorr) {
        val (p, d) = (rng.nextInt(nProducts), today - 1 - rng.nextInt(30))
        if (!seen.contains(key(p, d)) && table.containsKey(key(p, d))) { emit(p, d); n += 1 }
      }
      for (_ <- 0 until math.max(1, deltaRows / 200))
        w.write(s"n/a,S001,${pid(rng.nextInt(nProducts))},1,1.00\n")
      w.close()
      Delta(f, today, f.length(), table.size.toLong)
    }
    var keySum, amountSum = 0L
    table.forEach { (k, c) =>
      keySum += (k / 100000L) * 100000L + Day0Index + (k % 100000L)
      amountSum += c
    }
    MergeInputs(baseCsv, productsJson, nProducts, baseRows, deltas,
      table.size.toLong, keySum, amountSum)
  }

  // ── corpus_prep ──────────────────────────────────────────────────────

  /** The documents vocabulary of the engine's synthetic test corpora,
    * widened with fixed pseudo-words so that unrelated documents share no
    * 8-gram by chance. */
  private val baseWords = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row", "agg", "key",
    "query", "scan", "batch", "a")
  private val vocab: Array[String] = {
    val r = new SplittableRandom(7L)
    val on = Array("b", "c", "d", "f", "g", "k", "l", "m", "n", "p", "r", "s", "t", "v", "z")
    val nu = Array("a", "e", "i", "o", "u")
    val ws = mutable.LinkedHashSet.empty[String] ++= baseWords
    while (ws.size < 800) {
      val syl = 2 + r.nextInt(2)
      ws += (0 until syl).map(_ => on(r.nextInt(on.length)) + nu(r.nextInt(nu.length))).mkString
    }
    ws.toArray
  }
  private val frenchRun = "le chat est sur la table et les enfants pour que une maison dans ce pas"

  final case class CorpusInputs(corpusDir: File, benchDir: File,
      expectedKept: Seq[(String, Long)], survivorIdSum: Long,
      planted: Map[String, Set[Long]]) {
    def summary: String =
      planted.toSeq.sortBy(_._1).map { case (k, v) => s"$k ${v.size}" }.mkString(", ") +
        "; expected kept " + expectedKept.map { case (k, n) => s"$k $n" }.mkString(", ")
  }

  final case class Doc(id: Long, text: String)

  /** A crawl corpus in an HTML shell (ids 0..n-1) and a clean benchmark
    * slice. Planted: too-short pages, pages without the stop-word run the
    * Gopher rules need, French pages, exact copies, near copies (two
    * tokens swapped for others) and pages quoting a benchmark passage.
    * Every copy's original has a lower id, so originals survive. */
  def corpus(seed: Long, dir: File, n: Int, nBench: Int, files: Int): CorpusInputs = {
    val rng = new SplittableRandom(seed * 1000003L + 37L)
    def words(k: Int): Array[String] = Array.fill(k)(vocab(rng.nextInt(vocab.length)))
    val bench = (0 until nBench).map(i => Doc(1000000L + i, words(40 + rng.nextInt(40)).mkString(" ")))
    val benchFree = mutable.Queue(bench.indices: _*)
    val docs = new Array[Doc](n)
    val goodBody = mutable.ArrayBuffer.empty[(Long, Array[String], Boolean)] // (id, tokens, footer) copyable
    val planted = Map(
      "short" -> mutable.Set.empty[Long], "gopher_fail" -> mutable.Set.empty[Long],
      "foreign" -> mutable.Set.empty[Long], "exact_copy" -> mutable.Set.empty[Long],
      "near_copy" -> mutable.Set.empty[Long], "leak" -> mutable.Set.empty[Long])
    val used = mutable.Set.empty[Long]
    var survivorIdSum = 0L
    def render(toks: Array[String], footer: Boolean): String =
      toks.mkString(" ") + (if (footer) "\ncopyright footer all rights reserved" else "")
    def goodTokens(id: Long): Array[String] = {
      val body = words(50 + rng.nextInt(40))
      val cut = rng.nextInt(body.length)
      // the stop-word run carries the id so no two documents share it
      val run = s"it was the best of day $id and this is that for you with ${id * 7 + 3} more time"
        .split(' ')
      body.take(cut) ++ run ++ body.drop(cut)
    }
    def pickOriginal(): Option[(Long, Array[String], Boolean)] = {
      var tries = 0
      while (tries < 8 && goodBody.nonEmpty) {
        val o = goodBody(rng.nextInt(goodBody.size))
        if (used.add(o._1)) return Some(o)
        tries += 1
      }
      None
    }
    for (i <- 0 until n) {
      val id = i.toLong
      val footer = rng.nextBoolean()
      val r = rng.nextDouble()
      val copy = if (r >= 0.90 && r < 0.96) pickOriginal() else None
      val text = copy match {
        case Some((_, toks, f)) if r < 0.93 =>
          planted("exact_copy") += id; render(toks, f)
        case Some((_, toks, f)) =>
          planted("near_copy") += id
          val t = toks.clone()
          for (_ <- 0 until 2) {
            val j = rng.nextInt(t.length)
            var w = vocab(rng.nextInt(vocab.length))
            while (w == t(j)) w = vocab(rng.nextInt(vocab.length))
            t(j) = w
          }
          render(t, f)
        case None if r < 0.02 =>
          planted("short") += id; words(3 + rng.nextInt(5)).mkString(" ")
        case None if r < 0.05 =>
          planted("gopher_fail") += id
          render(words(60 + rng.nextInt(30)).filterNot(_ == "the"), footer)
        case None if r < 0.07 =>
          planted("foreign") += id
          render(words(20 + rng.nextInt(20)) ++ frenchRun.split(' ') ++ frenchRun.split(' '), footer)
        case None if r < 0.08 && benchFree.nonEmpty =>
          planted("leak") += id
          val b = bench(benchFree.dequeue()).text.split(' ')
          val start = rng.nextInt(b.length - 20)
          val toks = goodTokens(id)
          val at = rng.nextInt(toks.length)
          render(toks.take(at) ++ b.slice(start, start + 16) ++ toks.drop(at), footer)
        case None =>
          val toks = goodTokens(id)
          goodBody += ((id, toks, footer))
          survivorIdSum += id
          render(toks, footer)
      }
      docs(i) = Doc(id, text)
    }
    val p = planted.map { case (k, v) => k -> v.toSet }
    val nQuality = n - p("short").size - p("gopher_fail").size - p("foreign").size
    val nExact = nQuality - p("exact_copy").size
    val nNear = nExact - p("near_copy").size
    val kept = Seq("input" -> n.toLong, "quality" -> nQuality.toLong,
      "exact_dedup" -> nExact.toLong, "line_dedup" -> nExact.toLong,
      "near_dedup" -> nNear.toLong, "decontaminated" -> (nNear - p("leak").size).toLong)
    val corpusDir = new File(dir, "corpus")
    writeJson(corpusDir, files, docs.toSeq.map(d => d.copy(text = htmlShell(d.text))))
    val benchDir = new File(dir, "benchmark")
    writeJson(benchDir, 1, bench)
    CorpusInputs(corpusDir, benchDir, kept, survivorIdSum, p)
  }

  /** Wrap a page body in the crawl's HTML shell. */
  def htmlShell(text: String): String =
    "<html><head><style>p{margin:0}</style></head><body><p class=\"d\">" +
      text + "</p><!-- boilerplate --><script>var t=1;</script></body></html>"

  /** Documents as `files` JSON array documents of (doc_id, text) records. */
  private def writeJson(dir: File, files: Int, docs: Seq[Doc]): Unit = {
    val per = (docs.size + files - 1) / files
    docs.grouped(math.max(1, per)).zipWithIndex.foreach { case (part, i) =>
      val w = writer(new File(dir, f"part-$i%03d.json"))
      w.write("[\n")
      part.zipWithIndex.foreach { case (d, j) =>
        if (j > 0) w.write(",\n")
        val esc = d.text.flatMap {
          case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case c => c.toString
        }
        w.write(s"""{"doc_id":${d.id},"text":"$esc"}""")
      }
      w.write("\n]\n")
      w.close()
    }
  }
}
