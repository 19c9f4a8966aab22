package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scale-factor multiplier for the driver's test tables: builds an
  * sf×N dataset from an existing sf dir by unioning N key-shifted
  * copies — the cheap local stand-in for a larger driver generation,
  * used for the sf0.1 → sf1 scaling-ratio evidence in BASELINE.md
  * (r6 verdict item 3: validate the 100 TB design claims with one 10×
  * datapoint instead of plan-shape argument alone).
  *
  * Shape preserved: dimension tables (region, nation) stay fixed —
  * real deployments grow facts, not geography; every foreign key
  * shifts consistently (copy c's lineitem rows reference copy c's
  * orders/parts/suppliers), so join selectivities and per-key group
  * sizes match the original distribution; the fixed query frames
  * (`vec_id < 20`, `doc_id % 97 = 0` on copy 0) keep their size while
  * the corpus under them grows N× — exactly the scan-scaling shape a
  * bigger cluster faces.
  *
  * Near-dup structure must scale in cluster COUNT, not cluster SIZE:
  * a copy that differs from the original only by a 3-char suffix is a
  * near-duplicate of it, so N such copies turned every dup cluster
  * into a 10×-bigger one and TRUE near-dup pairs grew N² — the first
  * sf1 run measured 92× candidate-shuffle growth on dedup_containment
  * purely from that artifact, which is not what a 10× corpus looks
  * like (dup RATE stays, cluster count grows). So each copy applies an
  * injective per-copy transform that preserves structure WITHIN the
  * copy exactly and destroys similarity ACROSS copies:
  *   - documents: a per-copy CHARACTER substitution (`translate` of
  *     every printable-ASCII char through a copy-specific ROTATION of
  *     the printable-ASCII alphabet) — a per-char bijection, so
  *     within-copy token equality, token lengths, and shingle
  *     structure are isomorphic to copy 0's, while cross-copy token
  *     overlap collapses to background noise (distinct nonzero
  *     relative rotations: two copies share a token only when one
  *     token happens to be the other's rotation — the same collision
  *     rate as unrelated text). Two earlier schemes measured their
  *     own artifacts instead of the data slope: `w` → `w~c3` token
  *     tags grew total characters ~15× at 10 copies, and the r9 CJK
  *     block substitution kept CHARS exact but turned every
  *     substituted char into 3-byte UTF-8 — copies lost
  *     `UTF8String`'s ASCII fast path and parquet bytes grew ~2.6×
  *     past chars, inflating char-bound scans (the r12
  *     `text_lang_confusion` 5.7× residual). The rotation keeps the
  *     text ASCII: 10 copies = exactly 10× chars AND exactly 10×
  *     bytes, so char-bound and byte-bound queries measure the same
  *     slope.
  *   - embeddings: dimensions cyclically rotated by the copy index — a
  *     permutation is orthogonal, so within-copy norms/distances are
  *     bit-preserved while cross-copy cosines collapse to background
  *     noise.
  *
  * Usage: runMain graft.ScaleUp [srcDir] [dstDir] [copies]
  * (`dstDir` defaults to `target/sf1` under the working directory)
  */
object ScaleUp {

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("target/sf1")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = GraftSession.local(GraftSession.cpuCount())

    def read(name: String) = spark.read.parquet(s"$src/$name.parquet")
    // driver layout: ONE parquet FILE per table named <name>.parquet —
    // the streaming direct readers glob for exactly that file name
    // (a directory of part files silently yields an empty stream)
    def write(df: DataFrame, name: String): Unit = {
      val tmp = new java.io.File(s"$dst/_tmp_$name")
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getAbsolutePath)
      val part = tmp.listFiles().find(_.getName.endsWith(".parquet"))
        .getOrElse(throw new IllegalStateException(s"no part file for $name"))
      val target = new java.io.File(s"$dst/$name.parquet")
      if (target.exists()) org.apache.commons.io.FileUtils.forceDelete(target)
      org.apache.commons.io.FileUtils.moveFile(part, target)
      org.apache.commons.io.FileUtils.deleteDirectory(tmp)
    }

    /** Key-offset so shifted copies never collide: next power of ten
      * above the current max (keeps ids readable in failures). */
    def offsetOf(df: DataFrame, key: String): Long = {
      val mx = df.agg(max(col(key))).head().getLong(0)
      var o = 1L
      while (o <= mx) o *= 10
      o
    }

    /** N copies of `df`, the listed key columns shifted per copy. */
    def scaled(df: DataFrame, keys: Seq[(String, Long)])
              (perCopy: (DataFrame, Int) => DataFrame = (d, _) => d): DataFrame =
      (0 until copies).map { c =>
        val shifted = keys.foldLeft(df) { case (d, (k, off)) =>
          d.withColumn(k, col(k) + lit(off * c))
        }
        perCopy(shifted, c)
      }.reduce(_.unionByName(_))

    // dimensions stay fixed
    write(read("region"), "region")
    write(read("nation"), "nation")

    val customer = read("customer")
    val supplier = read("supplier")
    val part = read("part")
    val orders = read("orders")
    val custOff = offsetOf(customer, "c_custkey")
    val suppOff = offsetOf(supplier, "s_suppkey")
    val partOff = offsetOf(part, "p_partkey")
    val orderOff = offsetOf(orders, "o_orderkey")

    write(scaled(customer, Seq("c_custkey" -> custOff))(), "customer")
    write(scaled(supplier, Seq("s_suppkey" -> suppOff))(), "supplier")
    write(scaled(part, Seq("p_partkey" -> partOff))(), "part")
    write(scaled(orders, Seq("o_orderkey" -> orderOff, "o_custkey" -> custOff))(),
      "orders")
    write(scaled(read("lineitem"), Seq("l_orderkey" -> orderOff,
      "l_partkey" -> partOff, "l_suppkey" -> suppOff))(), "lineitem")

    // events: same time range every copy (streaming watermark shape
    // unchanged), user/event ids shift — state cardinality scales
    val events = ops.Tables.loadEvents(spark, src)
    val userOff = offsetOf(events, "user_id")
    val eventOff = offsetOf(events, "event_id")
    write(scaled(events, Seq("event_id" -> eventOff, "user_id" -> userOff))()
      // driver vintage: TIMESTAMP_NTZ physical (isAdjustedToUTC=false)
      .withColumn("ts", col("ts").cast("timestamp_ntz")), "events")

    val documents = read("documents")
    val docOff = offsetOf(documents, "doc_id")
    // fixed-width injective ASCII-preserving transform: every
    // printable ASCII char maps 1:1 through a per-copy rotation of
    // the printable-ASCII alphabet (space untouched, so tokenization
    // is unchanged; output stays 1-byte UTF-8, so bytes scale exactly
    // like chars). Rotation step 37 is coprime to 94 and c·37 mod 94
    // is distinct and nonzero for c = 1..9, so every copy pair sits a
    // nonzero relative rotation apart — cross-copy token overlap is
    // background noise. n_chars recomputed defensively; it is provably
    // identical (per-char substitution preserves length).
    val fromChars = (0x21 to 0x7E).map(_.toChar).mkString
    // AFFINE per-copy bijection i → a·i + b (mod 94), generalizing the
    // rotation so copy counts past the alphabet size stay
    // collision-free: pure rotations collide at c ≥ 94 (c·37 mod 94
    // cycles), and a colliding pair's texts are IDENTICAL under
    // different doc_ids — fabricated exact duplicates that would
    // poison every dedup/novelty slope measured on the scaled corpus
    // (the sf10 = 100-copy decade hits this). Block k = c/94 picks the
    // multiplier a from the units mod 94 (a=1 for k=0, so copies 0–93
    // are BIT-IDENTICAL to the historical rotations — committed sf1/
    // sf3 decade tables stay comparable); b = 37c mod 94 as before.
    // (a, b) pairs are distinct for all c < 94·φ(94)/... = 94·46 =
    // 4324 copies (b cycles through all residues within each 94-copy
    // block, a changes across blocks), and the RELATIVE map between
    // two distinct copies is a non-identity affine map — at most a
    // couple of fixed chars, so cross-copy token overlap stays
    // background noise. Refuse loudly past the provable range.
    val affineA = (1 until fromChars.length)
      .filter(a => BigInt(a).gcd(BigInt(fromChars.length)) == 1)
    require(copies <= fromChars.length * affineA.size,
      s"ScaleUp: $copies copies exceeds the ${fromChars.length * affineA.size}" +
        "-copy distinct-affine-map range — extend the per-copy transform first")
    def toChars(c: Int): String = {
      val n = fromChars.length
      val a = affineA((c / n) % affineA.size)
      val b = (c * 37) % n
      (0 until n).map(i => fromChars((a * i + b) % n)).mkString
    }
    write(scaled(documents, Seq("doc_id" -> docOff)) { (d, c) =>
      if (c == 0) d
      else d.withColumn("text", translate(col("text"), fromChars, toChars(c)))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }, "documents")

    val embeddings = read("embeddings")
    val vecOff = offsetOf(embeddings, "vec_id")
    val dims = embeddings.select(size(col("embedding"))).head().getInt(0)
    // per-copy orthogonal transform = dimension rotation (r = c mod
    // dims, as always) COMPOSED with a per-block sign-flip diagonal
    // (block k = c/dims; k = 0 flips nothing, so copies 0..dims-1 are
    // bit-identical to the historical pure rotations). Pure rotations
    // collide at c ≥ dims — copy c and c+dims would carry IDENTICAL
    // embeddings under different vec_ids, fabricated semantic
    // duplicates at 100-copy scale. A signed permutation is still
    // orthogonal (dot(PDx, PDy) = Σ (±)²xᵢyᵢ = x·y), so within-copy
    // norms/cosines stay bit-preserved, while same-rotation copies in
    // different blocks now differ by a ± pattern that decorrelates
    // their cross-copy cosines to background. The pattern derives from
    // a splitmix64 fold of (block, dim) — deterministic across runs.
    def signOf(k: Int, i: Int): Float = {
      var z = k.toLong * 0x9E3779B97F4A7C15L + i.toLong * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      if (((z ^ (z >>> 31)) & 1L) == 0L) 1.0f else -1.0f
    }
    write(scaled(embeddings, Seq("vec_id" -> vecOff)) { (d, c) =>
      val r = c % dims
      val k = c / dims
      val rotated =
        if (r == 0) col("embedding")
        else concat(slice(col("embedding"), r + 1, dims - r),
          slice(col("embedding"), 1, r))
      val signed =
        if (k == 0) rotated
        else zip_with(rotated,
          array((0 until dims).map(i => lit(signOf(k, i))): _*),
          (x, s) => x * s)
      if (r == 0 && k == 0) d else d.withColumn("embedding", signed)
    }, "embeddings")

    println(s"""{"scaled":"$dst","copies":$copies}""")
    spark.stop()
  }
}
