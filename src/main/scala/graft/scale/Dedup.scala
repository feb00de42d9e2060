package graft.scale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines (SURVEY.md §7.4):
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash group-by on the dedup key (or a digest of
  *    it) — Spark's partial aggregation makes this a single shuffle of
  *    distinct keys, not rows.
  *  - Near-dup never does an O(n²) comparison: MinHash/SimHash/embedding
  *    variants all generate candidates by exploding per-doc BUCKET KEYS
  *    (LSH bands / simhash chunks / hyperplane signs) and self-joining
  *    within buckets — a shuffle on bucket key whose skew is bounded by
  *    band width, then exact verification only on candidate pairs.
  *  - The n-gram Jaccard verifier recomputes shingle sets on the
  *    candidate pairs only.
  */
object Dedup {

  /** Default skew cap for every banded/blocked candidate generator
    * (band buckets, simhash chunks, IVF cells, n-gram blocks): buckets
    * larger than this are dropped before the quadratic self-join. ON by
    * default — at 100 TB the first boilerplate-heavy bucket otherwise
    * turns any of these operators into an O(bucket²) scale-killer, and
    * a default is the one config a caller must not be able to forget
    * (SCALE.md §6b measures the difference: capped hot-10× ≈ hot-1×;
    * uncapped ≈ 10⁹ pairs). Pass `0` explicitly for full-recall runs on
    * small curated corpora (the oracle configurations do).
    */
  val DefaultMaxBucketSize: Int = 4096

  /** Exact dedup: keep the lowest-id row per duplicate group.
    * Returns (idCol = min id, dup_count) per distinct key set — the
    * deterministic canonical form (dropDuplicates keeps an arbitrary
    * row, which breaks reproducibility).
    */
  def exact(df: DataFrame, idCol: String, keyCols: Seq[String]): DataFrame =
    df.groupBy(keyCols.map(graft.ops.Cleaning.qcol): _*)
      .agg(min(graft.ops.Cleaning.qcol(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select((graft.ops.Cleaning.qcol(idCol) +: keyCols.map(graft.ops.Cleaning.qcol) :+ col("dup_count")): _*)

  /** MinHash signatures per doc: (id, sig: array<long>).
    * Native ShingleMinHash expression: tokenize (codegen'd split), then
    * one tight loop shingling+hashing+updating all signature slots.
    */
  def minhashSignatures(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, seed: Long = 42L): DataFrame = {
    val fam = Shingling.HashFamily(numHashes, seed)
    val sig = graft.functions.Native.shingleMinhash(
      TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol)), k, fam.coeffs.map(_._1), fam.coeffs.map(_._2))
    df.select(graft.ops.Cleaning.qcol(idCol), sig.as("sig"))
  }

  /** Skew guard shared by every blocked/bucketed candidate generator:
    * drop rows of buckets larger than `maxBucketSize` (non-discriminative
    * AND quadratic in the self-join that follows).
    *
    * Shape: bucket sizes via groupBy (PARTIAL aggregation — the hot
    * bucket collapses map-side, nothing skewed ever concentrates), keep
    * only the OVERSIZED keys — a tiny relation, ∝ the number of
    * degenerate buckets — and LEFT ANTI join it back (AQE broadcasts
    * it, so the bucket frame is filtered map-side without an extra
    * shuffle). A window count over the bucket key would instead funnel
    * the entire degenerate bucket into ONE WindowExec task (buffer +
    * spill ∝ the hot-block size: the exact failure the cap exists to
    * prevent) — AQE can split a skewed join partition but never a
    * window. Costs one extra column-pruned pass over the bucket source.
    * `maxBucketSize <= 0` disables the cap.
    */
  private[scale] def capBuckets(
      buckets: DataFrame, keyCols: Seq[String], maxBucketSize: Int): DataFrame =
    if (maxBucketSize <= 0) buckets
    else {
      val oversized = buckets.groupBy(keyCols.map(col): _*)
        .agg(count(lit(1)).as("__bsz__"))
        .filter(col("__bsz__") > maxBucketSize)
        .select(keyCols.map(col): _*)
      buckets.join(oversized, keyCols, "left_anti")
    }

  /** `df`'s `id` and `cols` (each a column and its pair name) named for
    * pair side `s`: `id_<s>` and `<name>_<s>`, after the `keys`. */
  private def pairSide(df: DataFrame, s: String, id: Column,
      cols: Seq[(Column, String)], keys: Seq[String] = Nil): DataFrame =
    df.select(keys.map(col) ++ (id.as(s"id_$s") +: cols.map { case (c, n) => c.as(s"${n}_$s") }): _*)

  /** The blocked self-join under every near-dup operator: each unordered
    * pair of `rows` sharing the block `keys`, once per shared block,
    * oriented `id_a < id_b`. Each `carry` column rides both sides as
    * `<name>_a` / `<name>_b`.
    */
  private def selfPairs(rows: DataFrame, keys: Seq[String], id: Column,
      carry: (Column, String)*): DataFrame =
    pairSide(rows, "a", id, carry, keys).join(pairSide(rows, "b", id, carry, keys), keys)
      .filter(col("id_a") < col("id_b"))

  /** Per-side fetch: attach `table`'s `fetch` columns to both sides of a
    * pair frame with two id joins (`id_a` first) — the row whose `key`
    * is `id_a` gives `<name>_a`, the row whose `key` is `id_b` gives
    * `<name>_b`. Fetching after the pairs are formed keeps the heavy
    * columns (shingle sets, vectors, member lists) out of the
    * quadratic self-join.
    */
  private def withSides(pairs: DataFrame, table: DataFrame, key: Column,
      fetch: (Column, String)*): DataFrame =
    Seq("a", "b").foldLeft(pairs)((p, s) => p.join(pairSide(table, s, key, fetch), s"id_$s"))

  /** Exact-collapse expansion (SCALE.md §6e), shared by every collapsed
    * near-dup operator. `groups` holds one row per identical-content
    * group: `__rep__` (its min id) and `__mem__` (its member ids).
    * `verified` holds the representative pairs `(id_a, id_b, values…)`;
    * each expands to every member × member pair with the rep pair's
    * values. Groups are disjoint, so no member pair repeats;
    * least/greatest restores `id_a < id_b`, and each per-side column
    * pair in `swap` trades places where that flips the rep pair's
    * orientation (containment is asymmetric). `intra` has one row per
    * group whose members also pair among themselves; each such pair
    * gets the `intraOut` values, which may read the named `perGroup`
    * columns (evaluated over `intra`). Expansion joins are OUTPUT-sized:
    * every produced row is an emitted pair.
    */
  private def expandCollapsed(
      verified: DataFrame, groups: DataFrame, intra: DataFrame, intraOut: Seq[Column],
      perGroup: Seq[Column] = Nil, swap: Seq[(String, String)] = Nil): DataFrame = {
    val vals = verified.columns.toSeq.filterNot(Set("id_a", "id_b"))
    val flip = (swap ++ swap.map(_.swap)).toMap
    val inter = withSides(verified, groups, col("__rep__"), col("__mem__") -> "__m")
      .select((explode(col("__m_a")).as("__x__") +: col("__m_b") +: vals.map(col)): _*)
      .select((col("__x__") +: explode(col("__m_b")).as("__y__") +: vals.map(col)): _*)
      .select((least(col("__x__"), col("__y__")).as("id_a") +:
        greatest(col("__x__"), col("__y__")).as("id_b") +:
        vals.map(v => flip.get(v).fold(col(v))(o =>
          when(col("__x__") < col("__y__"), col(v)).otherwise(col(o)).as(v)))): _*)
    val first = intra.select((col("__mem__") +: perGroup :+ explode(col("__mem__")).as("__x__")): _*)
    val carried = first.columns.toSeq.filterNot(Set("__mem__", "__x__")).map(col)
    val within = first
      .select((col("__x__") +: carried :+ explode(col("__mem__")).as("__y__")): _*)
      .filter(col("__x__") < col("__y__"))
      .select((col("__x__").as("id_a") +: col("__y__").as("id_b") +: intraOut): _*)
    inter.unionByName(within)
  }

  /** LSH banding: explode each signature into (band, bandHash) bucket
    * keys; docs sharing any bucket are candidates.
    */
  private def bandBuckets(sigDf: DataFrame, idCol: String, bands: Int, rowsPerBand: Int): DataFrame = {
    // xxhash64 hashes the sliced array column directly (codegen'd; no
    // interpreted per-element lambda). The bucket value only gates
    // CANDIDATE generation — every candidate is Jaccard-verified — so
    // the hash formulation is not behavior the oracle pins.
    val bandStructs = (0 until bands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand)).as("bucket"))
    }
    sigDf.select(graft.ops.Cleaning.qcol(idCol), explode(array(bandStructs: _*)).as("bb"))
      .select(graft.ops.Cleaning.qcol(idCol), col("bb.band"), col("bb.bucket"))
  }

  /** MinHash+LSH near-duplicate pairs, Jaccard-verified.
    * Output: (id_a, id_b, jaccard) with id_a < id_b, jaccard >= threshold.
    *
    * EXACT-COLLAPSE prepass (`collapseIdentical`, ON by default): docs
    * whose hashed k-shingle SETS are identical — byte-identical dups
    * and trivial re-edits that survive tokenization — are collapsed to
    * one representative (min id) BEFORE the quadratic candidate
    * stages, and verified representative pairs are expanded back to
    * member pairs afterwards. Lossless by construction: members of a
    * set-group are interchangeable in every Jaccard (the measure
    * depends only on the set), the MinHash signature is a pure
    * function of the same set ([[graft.functions.Native.MinhashFromHashes]]),
    * and intra-group pairs have Jaccard exactly 1.0. On a dup-heavy
    * corpus (the 100 TB reality: crawls run 30-60% exact-dup) this
    * shrinks the banding self-join and the verify join QUADRATICALLY
    * in the duplication factor while the output stays identical —
    * measured 10× on the 10-way-duplicated sf1 fixture (SCALE.md §6d);
    * on an all-unique corpus it costs one extra set-keyed aggregation.
    * The group key is the shingle array ITSELF (exact set equality,
    * partial aggregation collapses dup content map-side), not a hash
    * of it — no collision risk in the grouping.
    */
  def nearDupMinhash(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize,
      collapseIdentical: Boolean = true): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val rowsPerBand = numHashes / bands
    val id = graft.ops.Cleaning.qcol(idCol)
    val sets = hashedShingleTable(df, idCol, textCol, k)
    // verify with sorted shingle-HASH sets: ~10× smaller shuffle than
    // string shingle arrays, and the pairwise Jaccard is a native long
    // merge-walk (hash collisions at 64 bits are negligible)
    def verified(candidates: DataFrame, setTable: DataFrame, key: Column): DataFrame =
      withSides(candidates, setTable, key, col("shingles") -> "sh")
        .select(col("id_a"), col("id_b"),
          graft.functions.Native.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)

    if (collapseIdentical) {
      val fam = Shingling.HashFamily(numHashes, seed)
      // Under collapse the skew cap applies TWICE: reps per band bucket
      // (bounding the candidate self-join, now in distinct-content
      // space) and members per identical-content group (a duplication
      // flood past the cap would otherwise expand to O(cap²)+ intra
      // pairs — the uncollapsed cap dropped the same flood outright
      // because every one of its band buckets was oversized).
      // r14 optimization (guide §5): the collapse groupBy feeds seven
      // branches (rep signatures, both verify sides, both member
      // expansions, the intra emitter) and each used to re-run the
      // text→shingle pass plus the array-keyed shuffle. One barrier;
      // identical rows; the oracle is untouched.
      val groups0 = sets.groupBy(col("shingles"))
        .agg(min(id).as("__rep__"), collect_list(id).as("__mem__"))
      val groups = (if (maxBucketSize <= 0) groups0
        else groups0.filter(size(col("__mem__")) <= maxBucketSize))
        .localCheckpoint(eager = false)
      val repSigs = groups.select(col("__rep__"),
        graft.functions.Native.minhashFromHashes(
          col("shingles"), fam.coeffs.map(_._1), fam.coeffs.map(_._2)).as("sig"))
      // both candidate sides read the bucket frame; the cap itself reads
      // it twice more — materialize the capped (band, bucket, rep) rows
      // (three longs per row) so the per-rep signature pass runs once
      val buckets = capBuckets(bandBuckets(repSigs, "__rep__", bands, rowsPerBand),
        Seq("band", "bucket"), maxBucketSize)
        .localCheckpoint(eager = false)
      val candidates = selfPairs(buckets, Seq("band", "bucket"), col("__rep__"))
        .select("id_a", "id_b").distinct()
      // intra-group pairs: identical non-empty sets — Jaccard exactly
      // 1.0 (the brute-force merge-walk value; null-text groups have
      // null sets and emit nothing, matching the verify join's
      // null-drop on the uncollapsed path)
      expandCollapsed(verified(candidates, groups, col("__rep__")), groups,
        groups.filter(size(col("shingles")) > 0 && size(col("__mem__")) > 1 &&
          lit(1.0) >= threshold),
        Seq(lit(1.0).as("jaccard")))
    } else {
      // r14 optimization: the signature frame feeds the cap (twice) and
      // both candidate sides — materialize the per-doc signatures once
      // (numHashes longs per doc, no text) instead of re-running the
      // tokenize+shingle+minhash pass per branch
      val sigs = minhashSignatures(df, idCol, textCol, k, numHashes, seed)
        .localCheckpoint(eager = false)
      val buckets0 = bandBuckets(sigs, idCol, bands, rowsPerBand)

      // Same LSH skew guard as nearDupSimhash: a band bucket shared by a
      // huge fraction of the corpus (boilerplate-dominated shards) is
      // non-discriminative AND quadratic in the self-join below — see
      // capBuckets for why the guard is a partial-agg + semi join, not a
      // window count or a persist.
      val buckets = capBuckets(buckets0, Seq("band", "bucket"), maxBucketSize)

      val candidates = selfPairs(buckets, Seq("band", "bucket"), id)
        .select("id_a", "id_b").distinct()

      // Both verify sides read the set table — materialize it once
      // (r14; hashes only, no text) instead of re-shingling per side.
      verified(candidates, sets.localCheckpoint(eager = false), id)
    }
  }

  /** The PERSISTABLE near-dup index of an accepted corpus: one row per
    * (doc × band) with the band's bucket key — what an incremental
    * ingest pipeline writes once per accepted wave and probes every new
    * delivery against (cf. [[dedupAgainstIndex]], the exact-match
    * analogue). Pair with [[hashedShingleTable]] (the verify side) and
    * both index frames are bytes-per-doc parquet tables; nothing about
    * the accepted corpus' TEXT is ever re-read at probe time.
    */
  def minhashBandIndex(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    bandBuckets(minhashSignatures(df, idCol, textCol, k, numHashes, seed),
      idCol, bands, numHashes / bands)
  }

  /** (id, shingles) — the sorted hashed-shingle sets that Jaccard-verify
    * candidate pairs (the other persisted half of the near-dup index;
    * ~8 bytes per distinct shingle, no text).
    */
  def hashedShingleTable(
      df: DataFrame, idCol: String, textCol: String, k: Int = 5): DataFrame =
    df.select(graft.ops.Cleaning.qcol(idCol),
      graft.functions.Native.hashedShingleSet(
        TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol)), k).as("shingles"))

  /** Snapshot delta — the recrawl audit: given two KEYED snapshots of
    * a corpus (canonical URL or doc id as `keyCol`, one row per key)
    * each carrying a content fingerprint, classify every key as
    * `added` (new only), `removed` (old only), `changed` (both,
    * fingerprints differ) or `unchanged`. Pair with
    * [[graft.scale.TextAnalysis.portableFingerprintTable]] for the
    * fingerprint side; aggregate the output by `status` for the
    * wave-over-wave census a crawl team tracks per delivery.
    *
    * Presence is tracked by marker columns, not fingerprint nullness —
    * a null fingerprint (null text) still classifies by presence, and
    * fingerprint equality is null-safe. Keys must be unique per
    * snapshot (dedup first — [[exact]] or URL-keyed); duplicate keys
    * would multiply through the join.
    *
    * Scale: ONE key-partitioned full-outer join of two
    * (key, fingerprint) frames — bytes per row, no text; the census
    * aggregate on top is 4 groups.
    */
  def snapshotDelta(
      oldDf: DataFrame, newDf: DataFrame,
      keyCol: String, fpCol: String): DataFrame = {
    val o = oldDf.select(graft.ops.Cleaning.qcol(keyCol).as("__k"),
      graft.ops.Cleaning.qcol(fpCol).as("__fo"), lit(true).as("__po"))
    val n = newDf.select(graft.ops.Cleaning.qcol(keyCol).as("__k"),
      graft.ops.Cleaning.qcol(fpCol).as("__fn"), lit(true).as("__pn"))
    o.join(n, Seq("__k"), "full_outer")
      .select(col("__k").as(keyCol),
        when(col("__po").isNull, lit("added"))
          .when(col("__pn").isNull, lit("removed"))
          .when(col("__fo") <=> col("__fn"), lit("unchanged"))
          .otherwise(lit("changed")).as("status"))
  }

  /** Cross-split near-dup LEAKAGE audit — the measuring counterpart of
    * [[graft.scale.Sampling.splitAssignGrouped]]'s guard: given the
    * verified pair list of ANY near-dup family ([[nearDupNgram]],
    * [[nearDupMinhash]], [[nearDupEditDistance]] — two id columns
    * `id_a`/`id_b`) and the corpus's (id → split) assignment, count
    * near-dup pairs per UNORDERED split pair. Rows with `split_a !=
    * split_b` (`is_leak`) are eval contamination: a train doc's
    * near-duplicate sits in val/test, so eval scores memorization
    * (Lee et al. 2022's duplicated-eval point). Same-split rows stay
    * in the output as the contrast baseline — a healthy grouped split
    * shows all pair mass on the diagonal.
    *
    * Output: (split_a ≤ split_b lexicographically, n_pairs, n_docs =
    * distinct docs touched by this cell's pairs, is_leak). Pairs whose
    * ids are missing from `assignments` are dropped (inner join): the
    * audit covers the assigned corpus by definition.
    *
    * Scale: two id-keyed joins of the pair list against a two-column
    * (id, split) projection — co-partitioned equi-joins, no text; both
    * rollups run over the joined frame (materialized once) and output
    * ≤ |splits|² rows. The pair list itself is the dedup family's
    * already-blocked/capped output, never all-pairs.
    */
  def splitLeakageAudit(
      pairs: DataFrame, assignments: DataFrame,
      idCol: String, splitCol: String): DataFrame = {
    val asg = assignments.select(graft.ops.Cleaning.qcol(idCol).as("__id"),
      graft.ops.Cleaning.qcol(splitCol).cast("string").as("__split"))
    val cells = pairs
      .join(asg.select(col("__id").as("id_a"), col("__split").as("__sa")), Seq("id_a"))
      .join(asg.select(col("__id").as("id_b"), col("__split").as("__sb")), Seq("id_b"))
      .select(least(col("__sa"), col("__sb")).as("split_a"),
        greatest(col("__sa"), col("__sb")).as("split_b"),
        col("id_a"), col("id_b"))
      .localCheckpoint(eager = false) // reused: the pair count AND the distinct-doc count
    val nPairs = cells.groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
    val nDocs = cells
      .select(col("split_a"), col("split_b"),
        explode(array(col("id_a"), col("id_b"))).as("__doc"))
      .distinct()
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_docs"))
    nPairs.join(nDocs, Seq("split_a", "split_b"))
      .withColumn("is_leak", col("split_a") =!= col("split_b"))
  }

  /** The remediation detail behind [[splitLeakageAudit]]: the
    * cross-split pairs themselves, each side labeled with ITS OWN
    * split (not canonicalized — the fix is per-doc: quarantine the
    * eval side or re-home the group). Passes the pair list's extra
    * columns (jaccard, dist, …) through untouched.
    */
  def splitLeakagePairs(
      pairs: DataFrame, assignments: DataFrame,
      idCol: String, splitCol: String): DataFrame = {
    val asg = assignments.select(graft.ops.Cleaning.qcol(idCol).as("__id"),
      graft.ops.Cleaning.qcol(splitCol).cast("string").as("__split"))
    pairs
      .join(asg.select(col("__id").as("id_a"), col("__split").as("split_a")), Seq("id_a"))
      .join(asg.select(col("__id").as("id_b"), col("__split").as("split_b")), Seq("id_b"))
      .filter(col("split_a") =!= col("split_b"))
  }

  /** Leakage REPAIR by scrubbing: drop every `scrub`-split doc that
    * near-dups a doc in ANY OTHER split — the GPT-3-style benchmark
    * decontamination move (scrub train, keep eval's distribution
    * untouched). Removal is the one repair that is CLOSED: re-homing a
    * doc can create fresh cross-split pairs against its other
    * neighbors (the honest fix for that is re-splitting whole near-dup
    * clusters — [[graft.scale.Sampling.splitAssignGrouped]] on the
    * [[clusters]] assignment), whereas dropping docs only ever deletes
    * pairs. Guarantee: after one pass, [[splitLeakageAudit]] shows NO
    * cross-split pair touching `scrub`; leaks entirely between other
    * splits remain (scrub those separately if they matter — each
    * scrub shrinks only the split you chose to pay with).
    *
    * Returns `assignments` minus the scrubbed docs, schema unchanged.
    *
    * Scale: the leaked-pair join ([[splitLeakagePairs]]) is id-keyed
    * against the already-blocked pair list; the drop list is
    * leak-sized (AQE broadcasts it) under one LEFT ANTI join — the
    * corpus never shuffles.
    */
  def scrubLeakedDocs(
      pairs: DataFrame, assignments: DataFrame,
      idCol: String, splitCol: String, scrub: String = "train"): DataFrame = {
    val leaked = splitLeakagePairs(pairs, assignments, idCol, splitCol)
    val drop = leaked.filter(col("split_a") === scrub).select(col("id_a").as("__drop"))
      .unionByName(
        leaked.filter(col("split_b") === scrub).select(col("id_b").as("__drop")))
      .distinct()
    assignments.join(drop,
      graft.ops.Cleaning.qcol(idCol) === col("__drop"), "left_anti")
  }

  /** License-contamination propagation over near-dup clusters — the
    * provenance audit a compliance review asks for: if a doc near-dups
    * a copyleft/proprietary doc, treating it as permissive launders the
    * restriction through the duplicate (the cluster shares content, so
    * it shares the content's terms). Every doc inherits the MOST
    * RESTRICTIVE license in its cluster ([[clusters]]' assignment).
    *
    * `ranking` orders licenses least→most restrictive; values NOT in
    * the ranking rank above everything (unknown = assume worst — an
    * unrecognized license string must quarantine, not sail through).
    * Ties at the max rank break to the lexicographically GREATEST
    * license string (deterministic; with a total ranking, ties only
    * happen between equal strings or unknowns).
    *
    * Output: per doc (id, cluster, license, license_rank,
    * effective_license, effective_rank, is_upgraded = the cluster made
    * it stricter). Aggregate (license → effective_license) for the
    * census a delivery report carries.
    *
    * Scale: two cluster-keyed hash joins + one cluster-keyed
    * aggregate over an assignment the dedup pass already produced —
    * license strings and ranks shuffle, never text.
    */
  def licensePropagation(
      assignment: DataFrame, licenses: DataFrame,
      idCol: String, licenseCol: String, ranking: Seq[String]): DataFrame = {
    require(ranking.nonEmpty, "licensePropagation: ranking must be non-empty")
    require(ranking.distinct.size == ranking.size,
      "licensePropagation: ranking entries must be distinct")
    val licStr = graft.ops.Cleaning.qcol(licenseCol).cast("string")
    val rank = ranking.zipWithIndex.foldLeft(lit(ranking.size.toLong)) {
      case (acc, (name, i)) => when(licStr === name, lit(i.toLong)).otherwise(acc)
    }
    val lic = licenses.select(graft.ops.Cleaning.qcol(idCol).as("id"),
      licStr.as("license"), rank.as("license_rank"))
    val joined = assignment.select(col("id"), col("cluster"))
      .join(lic, Seq("id"))
      .localCheckpoint(eager = false) // reused: the per-cluster max AND the final join
    val eff = joined.groupBy(col("cluster"))
      .agg(max(struct(col("license_rank"), col("license"))).as("__e"))
      .select(col("cluster"), col("__e.license_rank").as("effective_rank"),
        col("__e.license").as("effective_license"))
    joined.join(eff, Seq("cluster"))
      .select(col("id"), col("cluster"), col("license"), col("license_rank"),
        col("effective_license"), col("effective_rank"),
        (col("effective_rank") > col("license_rank")).as("is_upgraded"))
  }

  /** Near-dup HUB detection over a verified pair list — the docs with
    * the highest pair degree are almost always structural boilerplate
    * (licence pages, navigation shells, generated templates) that
    * slipped every content filter; surfacing them is how a curation
    * team finds the NEXT filter to write. Output: the exact top-k by
    * (degree desc, id asc) as (doc_id, degree) rows.
    *
    * Scale: one explode-both-sides hash aggregate onto the doc key
    * (partial agg collapses hot docs map-side), then the exact top-k
    * rides the bounded aggregate ([[graft.functions.Aggregates]]
    * BoundedTopK: ≤ k per partition partial state) — never a global
    * sort or window over the degree table.
    */
  def nearDupHubs(pairs: DataFrame, k: Int = 100): DataFrame = {
    require(k >= 1, s"nearDupHubs: k must be >= 1, got $k")
    pairs.select(explode(array(col("id_a"), col("id_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .agg(graft.functions.Aggregates.topKByWeight(col("doc_id"), col("degree"), k)
        .as("__top__"))
      .select(explode(col("__top__")).as("__t"))
      .select(col("__t.value").as("doc_id"), col("__t.weight").as("degree"))
  }

  /** Asymmetric CONTAINMENT near-dup — |A∩B| / |A| over k-shingle sets:
    * the measure that catches near-SUBSET duplicates (a quote page
    * inside a longer article, a mirror wrapped in extra chrome), which
    * symmetric Jaccard structurally misses (a doc 10× the other's size
    * caps their Jaccard at ~0.1 however complete the overlap).
    *
    * Candidate generation is an INVERTED-INDEX shingle join, not
    * minhash banding: minhash agreement probability IS the Jaccard, so
    * banding would under-sample exactly the lopsided pairs this measure
    * exists for. Any pair with a shared non-boilerplate shingle is a
    * candidate; `maxShingleDocs` (the [[capBuckets]] guard, ON by
    * default) drops shingles shared by more docs than that — at 100 TB
    * a boilerplate shingle is non-discriminative AND quadratic, the
    * standard df-cap of every inverted-index pipeline. Verification
    * fetches the two sorted hashed-shingle sets by id and takes the
    * exact intersection count in one merge walk (native expression).
    *
    * Output: (id_a, id_b, n_shared, n_a, n_b, cont_a, cont_b), id_a <
    * id_b, kept when max(cont_a, cont_b) >= threshold; cont_a =
    * n_shared/n_a is "how much of A is inside B".
    *
    * EXACT-COLLAPSE prepass (`collapseIdentical`, ON by default):
    * identical shingle sets collapse to one representative before the
    * inverted-index join; the df cap keeps its MEMBER-count semantics
    * exactly (every member of a set-group carries every group shingle,
    * so a shingle's document frequency is the sum of group sizes over
    * the rep postings that contain it — the cap tests that weighted
    * sum). Intra-group pairs (containment 1.0 both ways) are emitted
    * only for groups with at least one surviving shingle, which is
    * precisely when the uncollapsed index would have made them
    * candidates. Output identical either way.
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxShingleDocs: Int = DefaultMaxBucketSize,
      collapseIdentical: Boolean = true): DataFrame = {
    require(threshold > 0 && threshold <= 1, s"threshold must be in (0,1], got $threshold")
    val id = graft.ops.Cleaning.qcol(idCol)
    // r14 optimization (guide §5): the set table feeds the inverted
    // index, the df cap, both verify sides and the member expansions —
    // materialize the proxy once (hashes, no text) instead of
    // re-shingling the corpus per branch
    val sets = hashedShingleTable(df, idCol, textCol, k)
      .localCheckpoint(eager = false)

    def verified(cands: DataFrame, setTable: DataFrame, key: Column): DataFrame =
      withSides(cands, setTable, key, col("shingles") -> "sh")
        .select(col("id_a"), col("id_b"),
          graft.functions.Native.intersectSortedCount(col("sh_a"), col("sh_b")).as("n_shared"),
          size(col("sh_a")).cast("long").as("n_a"),
          size(col("sh_b")).cast("long").as("n_b"))
        .withColumn("cont_a", col("n_shared").cast("double") / col("n_a"))
        .withColumn("cont_b", col("n_shared").cast("double") / col("n_b"))
        .filter(greatest(col("cont_a"), col("cont_b")) >= threshold)

    if (collapseIdentical) {
      // the collapse groupBy feeds six branches — one array-keyed
      // shuffle, not six (r14; identical rows, oracle untouched)
      val groups = sets.groupBy(col("shingles"))
        .agg(min(id).as("__rep__"), collect_list(id).as("__mem__"),
          count(lit(1)).as("__gsz__"))
        .localCheckpoint(eager = false)
      val repInv0 = groups.select(col("__rep__"), col("__gsz__"),
        explode(col("shingles")).as("__sh"))
      val repInv =
        if (maxShingleDocs <= 0) repInv0
        else {
          val oversized = repInv0.groupBy(col("__sh"))
            .agg(sum(col("__gsz__")).as("__df__"))
            .filter(col("__df__") > maxShingleDocs).select(col("__sh"))
          repInv0.join(oversized, Seq("__sh"), "left_anti")
        }
      val cands = selfPairs(repInv, Seq("__sh"), col("__rep__"))
        .select("id_a", "id_b").distinct()
      // a group member is an old-path candidate iff some group shingle
      // survives the cap — the surviving reps are exactly that set
      val surviving = repInv.select(col("__rep__")).distinct()
      // containment is ASYMMETRIC: the per-side columns flip with the
      // member pair's orientation (n_shared is symmetric)
      expandCollapsed(verified(cands, groups, col("__rep__")), groups,
        groups.join(surviving, Seq("__rep__"), "left_semi")
          .filter(size(col("__mem__")) > 1)
          .select(col("__mem__"), size(col("shingles")).cast("long").as("n_a")),
        Seq(col("n_a").as("n_shared"), col("n_a"), col("n_a").as("n_b"),
          lit(1.0).as("cont_a"), lit(1.0).as("cont_b")),
        perGroup = Seq(col("n_a")), swap = Seq("n_a" -> "n_b", "cont_a" -> "cont_b"))
    } else {
      // per-doc sets are already distinct+sorted, so the inverted index
      // is one narrow explode; the cap keys on the shingle hash alone
      val inv = capBuckets(
        sets.select(id, explode(col("shingles")).as("__sh")), Seq("__sh"), maxShingleDocs)
      verified(selfPairs(inv, Seq("__sh"), id).select("id_a", "id_b").distinct(), sets, id)
    }
  }

  /** Incremental MinHash near-dup: probe a NEW batch's band buckets
    * against a persisted accepted-corpus index ([[minhashBandIndex]] +
    * [[hashedShingleTable]], built with IDENTICAL k/numHashes/bands/
    * seed — a mismatched family silently loses all recall, so pass the
    * same constants). Output: (id_a = batch doc, id_b = index doc,
    * jaccard >= threshold).
    *
    * Scale: the probe is a (band, bucket) equi-join — new-wave buckets
    * against accepted buckets, never accepted × accepted (the already-
    * deduped index pairs are settled); `maxBucketSize` caps BOTH sides
    * independently (a boilerplate bucket is non-discriminative whichever
    * side it is on, and the join output for a bucket is |batch| × |index|).
    * Verification joins fetch only candidate ids' shingle sets.
    */
  def nearDupMinhashAgainstIndex(
      batch: DataFrame, indexBuckets: DataFrame, indexShingles: DataFrame,
      idCol: String, textCol: String,
      k: Int = 5, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, seed: Long = 42L,
      maxBucketSize: Int = DefaultMaxBucketSize): DataFrame = {
    // The cap's cost on NON-degenerate data is the counting shuffle of
    // the (band, bucket, id) frame (buckets are near-distinct, so the
    // sizing groupBy shuffles ~rows even after partial aggregation) —
    // measured +45% on this composed probe at the 100x dir. That is the
    // price of the production skew guard, paid linearly: without it one
    // degenerate bucket (empty docs, boilerplate) makes the candidate
    // join quadratic. The full-recall gate form (maxBucketSize = 0)
    // skips both the guard and its shuffle.
    require(numHashes % bands == 0, "numHashes must be divisible by bands")
    val fam = Shingling.HashFamily(numHashes, seed)
    val id = graft.ops.Cleaning.qcol(idCol)
    // r14 optimization (guide §8: move heavy bytes once, decide on the
    // proxy): the band keys and the verify sets both derive from the
    // batch's hashed shingle sets, and the old shape ran the
    // tokenize+shingle pass over the batch TEXT twice (ShingleMinhash
    // for the bands, hashedShingleTable for the verify). The shingle
    // table is computed ONCE and materialized (hashes only, no text);
    // signatures derive from the same sets via MinhashFromHashes —
    // a pure function of the set, bit-identical to the from-text
    // signature (the collapse path's documented identity) — and the
    // signature frame is materialized too so the cap's sizing pass and
    // the candidate join never re-run the per-doc hash loop.
    val setsB0 = hashedShingleTable(batch, idCol, textCol, k)
      .localCheckpoint(eager = false)
    val bSigs = setsB0.select(id,
      graft.functions.Native.minhashFromHashes(
        col("shingles"), fam.coeffs.map(_._1), fam.coeffs.map(_._2)).as("sig"))
      .localCheckpoint(eager = false)
    val bBuckets = capBuckets(
      bandBuckets(bSigs, idCol, bands, numHashes / bands),
      Seq("band", "bucket"), maxBucketSize)
    // r15 (guide §2.4): under the cap the INDEX bucket frame is read
    // three times (the sizing groupBy, the anti-join left side, the
    // candidate join) — when the caller builds it inline from text
    // (wave2/incr compositions) that re-ran the accepted corpus'
    // tokenize+shingle+minhash pass 3×. Materialize the (band, bucket,
    // id) rows once — three longs per row, never text; uncapped the
    // frame is consumed once, so the barrier is skipped.
    val iBuckets = capBuckets(
      if (maxBucketSize > 0) indexBuckets.localCheckpoint(eager = false) else indexBuckets,
      Seq("band", "bucket"), maxBucketSize)
    val candidates = bBuckets
      .select(col("band"), col("bucket"), graft.ops.Cleaning.qcol(idCol).as("id_a"))
      .join(iBuckets
        .select(col("band"), col("bucket"), graft.ops.Cleaning.qcol(idCol).as("id_b")),
        Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    val setsB = setsB0
      .select(graft.ops.Cleaning.qcol(idCol).as("id_a"), col("shingles").as("sh_a"))
    val setsI = indexShingles
      .select(graft.ops.Cleaning.qcol(idCol).as("id_b"), col("shingles").as("sh_b"))
    candidates
      .join(setsB, "id_a")
      .join(setsI, "id_b")
      .select(col("id_a"), col("id_b"),
        graft.functions.Native.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Exact n-gram Jaccard over ALL same-bucket pairs where the bucket is
    * a cheap blocking key (here: doc length band + first token), i.e. a
    * bounded quadratic within tiny blocks. For unblocked exactness use
    * nearDupMinhash with bands = numHashes (threshold-free candidates).
    *
    * `maxBlockSize` (default ON) drops blocks larger than the cap before
    * the quadratic self-join: on real web text a huge fraction of
    * same-length-band documents share t0 = "the", and that block grows
    * WITH the corpus — uncapped, the self-join inside it is O(block²)
    * and this operator becomes the scale-killer of any pipeline wired to
    * it. A pair lost to a dropped block is a pair two near-identical
    * docs in an over-common block; callers needing recall there should
    * use nearDupMinhash (banded, probabilistic, also capped). Cap
    * membership is deterministic (block sizes are data-determined), so
    * an exact oracle can mirror it.
    *
    * EXACT-COLLAPSE prepass (`collapseIdentical`, ON by default): runs
    * AFTER the block cap — the cap's member-count semantics (and the
    * oracles that mirror it) are untouched — and collapses identical
    * (block, shingle set) rows to one representative for the quadratic
    * within-block self-join, expanding afterwards. Identical docs share
    * a block by construction (same length, same first token), so the
    * dup-heavy win of [[nearDupMinhash]]'s collapse carries over; the
    * output is identical either way.
    *
    * `extraBlockCols` prepend to the blocking key: pairs only form
    * within equal values (e.g. a chat `role` column — a user turn is
    * never a near-dup candidate of an assistant turn), and the block
    * cap counts members per (extras…, lenband, t0).
    */
  def nearDupNgram(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, threshold: Double = 0.5,
      maxBlockSize: Int = DefaultMaxBucketSize,
      collapseIdentical: Boolean = true,
      extraBlockCols: Seq[String] = Nil): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val toks = TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol))
    val block = struct(
      extraBlockCols.map(graft.ops.Cleaning.qcol) ++ Seq(
      // explicit floor: DuckDB CAST(double AS INT) rounds, Spark truncates —
      // floor() agrees in both engines for the non-negative log here
      floor(log(greatest(length(graft.ops.Cleaning.qcol(textCol)), lit(1))) * 2).cast("int").as("lenband"),
      // get() (0-indexed, null on out-of-bounds) instead of element_at:
      // a token-less text has tokens()=[], where element_at(,1) throws
      // under ANSI; coalesce to '' so the null never reaches the block
      // struct (struct equality treats null fields as EQUAL in Spark's
      // join but the oracle's a.t0=b.t0 never matches NULL — the ''
      // sentinel keeps both engines blocking token-less rows together)
      coalesce(get(toks, lit(0)), lit("")).as("t0")): _*)
    // r14 optimization (guide §5/§8): the (id, block, shingles) proxy
    // frame is consumed by the block cap (twice: sizing + anti join)
    // and every downstream branch; without a barrier each branch
    // re-ran the tokenize+shingle pass over the TEXT. Materialize the
    // proxy once — it holds hashes, never text — and let the branches
    // re-read it. Same rows, same pairs; the oracle is untouched.
    val sets0 = df.select(id, block.as("block"),
      graft.functions.Native.hashedShingleSet(toks, k).as("shingles"))
      .localCheckpoint(eager = false)
    val sets = capBuckets(sets0, Seq("block"), maxBlockSize)
    def verified(rows: DataFrame, rowId: Column): DataFrame =
      selfPairs(rows, Seq("block"), rowId, col("shingles") -> "sh")
        .select(col("id_a"), col("id_b"),
          graft.functions.Native.jaccardSorted(col("sh_a"), col("sh_b")).as("jaccard"))
        .filter(col("jaccard") >= threshold)
        .distinct()

    if (collapseIdentical) {
      // the collapse groupBy feeds five branches (both self-join sides,
      // both member expansions, the intra emitter) — one shuffle, not five
      val groups = sets.groupBy(col("block"), col("shingles"))
        .agg(min(id).as("__rep__"), collect_list(id).as("__mem__"))
        .localCheckpoint(eager = false)
      expandCollapsed(verified(groups, col("__rep__")), groups,
        groups.filter(size(col("shingles")) > 0 && size(col("__mem__")) > 1 &&
          lit(1.0) >= threshold),
        Seq(lit(1.0).as("jaccard")))
    } else verified(sets, id)
  }

  /** Connected components over near-dup pairs: assign every id the MIN id
    * reachable through the pair graph — the canonical-representative
    * clustering that turns pairwise near-dup hits into dedup decisions
    * (keep cluster == id, drop the rest).
    *
    * Min-label propagation: O(cluster diameter) join+agg rounds; near-dup
    * clusters are shallow in practice (pairs come from shared buckets),
    * and each round is a pair of co-partitioned shuffles. Converges when
    * no label changes; `maxIter` bounds pathological chains.
    *
    * Hybrid cutover: the VERIFIED near-dup pair set is the duplicate
    * mass post-banding/post-verify — usually dwarfed by the corpus.
    * When it fits the [[DriverFold]] budget, components are solved with
    * driver union-find in O(E·α(E)) and ONE broadcast join, replacing
    * an O(cluster diameter) loop of Spark jobs whose fixed per-job cost
    * dominates. Past the budget — or for id types with no driver
    * ordering — the distributed min-label propagation below takes over
    * (the 100 TB path; same labels either way: min reachable id).
    *
    * @param checkEvery propagation steps per convergence check: labels
    *        only shrink, so chaining a few lazy steps between count()
    *        actions trades (at most checkEvery−1) redundant cheap rounds
    *        after the fixed point for checkEvery× fewer Spark actions —
    *        the dominant cost of shallow (2–3 hop) near-dup clusters.
    *        2 measured fastest on the sf0.1 near-dup graph (one chain
    *        reaches the fixed point; 3 adds a wasted round per chain).
    * @throws IllegalStateException when maxIter is reached with labels
    *         still changing — a silently partially-merged clustering
    *         would make downstream dedup keep duplicate representatives.
    */
  def clusters(
      ids: DataFrame, idCol: String, pairs: DataFrame, maxIter: Int = 20,
      checkEvery: Int = 2): DataFrame = {
    val (labels, local) = edgeLabels(pairs, maxIter, checkEvery)
    ids.select(graft.ops.Cleaning.qcol(idCol).as("id"))
      .join(if (local) broadcast(labels) else labels, Seq("id"), "left")
      .select(col("id"), coalesce(col("cluster"), col("id")).as("cluster"))
  }

  /** Character-level near-dup pairs by RELATIVE edit distance — the
    * complement of the shingle families for SHORT texts, where one
    * typo moves n-gram Jaccard a lot but edit distance barely at all
    * (and vice versa for long block moves). A pair survives when
    * `levenshtein(a, b) · 100 ≤ maxDistPct · max(|a|, |b|)` — the
    * relative form keeps the threshold length-free and the test
    * integer-exact (both engines implement the same unit-cost DP).
    * Returns (id_a, id_b, dist, max_len).
    *
    * Scale: the shingle family's blocking contract — (length band,
    * first token) blocks with the deterministic `maxBlockSize` cap —
    * bounds the candidate pairs; the O(|a|·|b|) DP per surviving
    * candidate is the cost knob, so keep this operator for short-text
    * corpora (titles, turns, lines) and the shingle operators for
    * documents. Block caps replayed by the oracle.
    *
    * Identical-text collapse (the [[nearDupNgram]] move, measured on
    * the r11 sf10 probe): dup-heavy corpora put k identical copies of
    * a title in one block, and without collapse the DP runs on k²·
    * cross pairs per title — the 100x dup-heavy dir ran >12 min before
    * the fix and ~seconds after. The collapse groups equal (block,
    * text) rows AFTER the cap (cap semantics and oracle untouched),
    * runs the DP once per distinct-text pair, and expands members
    * back: inter-group pairs inherit the rep pair's (dist, max_len)
    * — texts are equal within a group, so every member combination
    * has exactly that distance — and intra-group pairs are dist 0 by
    * identity. Result-identical to the uncollapsed join.
    */
  def nearDupEditDistance(
      df: DataFrame, idCol: String, textCol: String,
      maxDistPct: Int = 10, maxBlockSize: Int = DefaultMaxBucketSize,
      extraBlockCols: Seq[String] = Nil,
      collapseIdentical: Boolean = true): DataFrame = {
    require(maxDistPct >= 1 && maxDistPct <= 100,
      s"nearDupEditDistance: maxDistPct must be 1..100, got $maxDistPct")
    val id = graft.ops.Cleaning.qcol(idCol)
    val t = graft.ops.Cleaning.qcol(textCol)
    val toks = TextAnalysis.tokens(t)
    val block = struct(
      extraBlockCols.map(graft.ops.Cleaning.qcol) ++ Seq(
        floor(log(greatest(length(t), lit(1))) * 2).cast("int").as("lenband"),
        // same null-safe t0 as nearDupNgram (ANSI element_at hazard)
        coalesce(get(toks, lit(0)), lit("")).as("t0")): _*)
    val keyed0 = df.select(id.as("__id"), block.as("block"), t.as("__t"))
    // NULL texts can never satisfy the distance filters (levenshtein
    // with a NULL side is NULL in both engines), so the uncollapsed
    // join drops them implicitly. Drop them explicitly AFTER the cap
    // (cap selection and oracle untouched) so the identical-text
    // collapse — whose groupBy would otherwise treat NULL __t as one
    // equal-text group and emit spurious dist-0 intra pairs — stays
    // result-identical to the uncollapsed join on null-bearing corpora.
    val keyed = capBuckets(keyed0, Seq("block"), maxBlockSize)
      .filter(col("__t").isNotNull)

    def verifiedPairs(rows: DataFrame, rowId: Column): DataFrame =
      selfPairs(rows, Seq("block"), rowId, col("__t") -> "t")
        // |len(a) − len(b)| lower-bounds the edit distance, so this
        // prunes the O(|a|·|b|) DP without changing the result set (any
        // row it drops would fail the final filter) — no oracle impact
        .filter(abs(length(col("t_a")) - length(col("t_b"))).cast("long") * 100L
          <= lit(maxDistPct.toLong) * greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
        .withColumn("dist", levenshtein(col("t_a"), col("t_b")))
        .withColumn("max_len",
          greatest(length(col("t_a")), length(col("t_b"))).cast("long"))
        .filter(col("dist").cast("long") * 100L <= lit(maxDistPct.toLong) * col("max_len"))
        .select(col("id_a"), col("id_b"), col("dist").cast("long").as("dist"),
          col("max_len"))

    // r14 optimization (guide §5): both self-join sides (and, in the
    // collapse path, both member expansions and the intra emitter)
    // re-ran the cap's counting pass and the collapse groupBy per
    // branch — materialize the reused frame once; identical pairs out.
    if (!collapseIdentical) verifiedPairs(keyed.localCheckpoint(eager = false), col("__id"))
    else {
      val groups = keyed.groupBy(col("block"), col("__t"))
        .agg(min(col("__id")).as("__rep__"), collect_list(col("__id")).as("__mem__"))
        .localCheckpoint(eager = false)
      expandCollapsed(verifiedPairs(groups, col("__rep__")), groups,
        groups.filter(size(col("__mem__")) > 1), Seq(lit(0L).as("dist"), col("max_len")),
        perGroup = Seq(length(col("__t")).cast("long").as("max_len")))
    }
  }

  /** Duplication-aware sampling weights over an EXISTING clusters
    * frame (the [[clusters]] output, or any (id, cluster) assignment):
    * every member of a size-k near-dup cluster carries weight
    * `1e6 div k` micro, so a cluster contributes ~one document of mass
    * no matter how many copies crawled in — the soft alternative to
    * hard dedup (keep every copy, downweight at sampling time; the
    * Lee 2022 observation that duplicated text otherwise gets
    * duplicated gradient). Output: (id, cluster, cluster_size,
    * weight_micro); feed the weights into the mixture/temperature
    * samplers as the per-row mass.
    *
    * Scale: one |clusters|-row size aggregate + one co-partitioned
    * join back on the cluster key — the same shape as the census, over
    * a frame the pipeline already has.
    */
  def clusterWeights(assignment: DataFrame): DataFrame = {
    val sizes = assignment.groupBy(col("cluster"))
      .agg(count(lit(1)).as("cluster_size"))
    assignment.join(sizes, Seq("cluster"))
      .select(col("id"), col("cluster"), col("cluster_size"),
        expr("1000000L div cluster_size").as("weight_micro"))
  }

  /** Quality-aware representative election over an existing clusters
    * frame: each near-dup cluster keeps its HIGHEST-scoring member
    * (score desc, id asc — the library's standard total order) instead
    * of the arbitrary min-id the plain dedup keeps. This is the
    * production near-dup epilogue: when a crawl holds five near-copies,
    * survive the best one (longest, highest classifier score, newest
    * snapshot — any caller-supplied score), not whichever id sorts
    * first. Output: (cluster, id, scoreCol as double — the election
    * key). Members with NULL scores never win (and a cluster of only
    * null scores elects nobody — an unscorable group must not survive
    * a quality gate, cf. [[Sampling.keepBestKPerGroup]]).
    *
    * Scale: one id-keyed join (clusters ⋈ scores co-partition on the
    * id) + the map-side-bounded top-1 aggregate — shuffle ∝ clusters,
    * never a cluster-partitioned window sort of every member.
    */
  def electRepresentatives(
      clustersDf: DataFrame, scores: DataFrame,
      idCol: String, scoreCol: String): DataFrame = {
    val joined = clustersDf.join(
      scores.select(graft.ops.Cleaning.qcol(idCol).as("id"),
        graft.ops.Cleaning.qcol(scoreCol)),
      Seq("id"))
    Sampling.keepBestKPerGroup(joined, Seq("cluster"), "id", scoreCol, k = 1)
      .select(col("cluster"), col("id"), graft.ops.Cleaning.qcol(scoreCol))
  }

  /** Cluster-size census over an EXISTING clusters frame (the
    * [[clusters]] output, or any (id, cluster) assignment): how much
    * duplication, in what clump sizes — one row per cluster size with
    * the number of clusters at that size. The audit report of a dedup
    * run, as a library call so callers never recompute the pair graph
    * for it: two summary-sized hash aggregates over a frame they
    * already have.
    */
  def clusterSizeCensus(
      clusters: DataFrame, clusterCol: String = "cluster"): DataFrame =
    clusters.groupBy(graft.ops.Cleaning.qcol(clusterCol))
      .agg(count(lit(1)).as("sz"))
      .groupBy("sz").agg(count(lit(1)).as("n_clusters"))

  /** Cross-source exact-overlap census: for every unordered source pair
    * (source_a < source_b), how many DISTINCT normalized fingerprints
    * occur in BOTH — the "which deliveries duplicate each other" audit
    * a corpus team runs before mixing crawls (double-counted mass
    * inflates a source's effective mixture weight; shared boilerplate
    * shows up here first). Fingerprints are the portable exact-dedup
    * ones ([[TextAnalysis.portableFingerprint]]), so two empty docs
    * count as overlap (fp 0) — the same convention as exact dedup and
    * [[TextAnalysis.corpusReport]]'s dup rate. Null sources and null
    * texts pair with nothing.
    *
    * Scale: DISTINCT (source, fp) first — one shuffle that also bounds
    * the self-join's per-fingerprint group at |sources| rows (a
    * boilerplate fp shared by every source contributes |sources|² pairs
    * ONCE, not per occurrence) — then an fp-keyed join whose output is
    * capped by |sources|² rows after the final summary aggregate.
    */
  def sourceOverlapMatrix(
      df: DataFrame, textCol: String, sourceCol: String): DataFrame = {
    val src = graft.ops.Cleaning.qcol(sourceCol).cast("string")
    val fps = df.select(
        src.as("__src"),
        TextAnalysis.portableFingerprint(graft.ops.Cleaning.qcol(textCol)).as("__fp"))
      .filter(col("__src").isNotNull && col("__fp").isNotNull)
      .distinct()
      // r14: both self-join sides read the distinct (source, fp) frame —
      // materialize it once instead of fingerprinting the corpus twice
      .localCheckpoint(eager = false)
    fps.select(col("__src").as("source_a"), col("__fp"))
      .join(fps.select(col("__src").as("source_b"), col("__fp")), Seq("__fp"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Similarity-threshold sweep over an EXISTING candidate-pair frame
    * (any `(id_a, id_b, jaccard)` output — run the pair generator at a
    * LOW floor first): pairs per similarity band, the histogram that
    * answers "what does threshold X actually delete?" before anyone
    * commits to one. The classic tuning read: a bimodal histogram has
    * a natural cut; mass piling against the floor band means the
    * generator's floor is already cutting into signal.
    *
    * Bands are floor(jaccard·nbands) clamped to the top band — the
    * jaccard values are exact rationals of integer counts, so banding
    * is engine-exact. One nbands-group aggregate over the pair frame.
    */
  def pairThresholdSweep(pairs: DataFrame, nbands: Int = 10): DataFrame = {
    require(nbands > 0, s"nbands must be > 0, got $nbands")
    val band = least(lit((nbands - 1).toLong),
      floor(col("jaccard") * nbands).cast("long"))
    pairs.groupBy(band.as("band"))
      .agg(count(lit(1)).as("n_pairs"))
  }

  /** Deletion propagation through the near-dup graph — the
    * right-to-be-forgotten pass a 100 TB corpus needs: a takedown /
    * erasure request names SEED documents, but near-verbatim copies of
    * the same content (mirrors, recrawls, quote farms) must go with
    * them or the deletion is cosmetic. Given an existing `(id, cluster)`
    * assignment (the [[clusters]] output over whatever pair graph the
    * pipeline already maintains) and a seed id list, labels every
    * corpus id with its deletion status:
    *
    *   - `"seed"`        — named directly by the request;
    *   - `"propagated"`  — shares a near-dup cluster with a seed;
    *   - `"kept"`        — survives.
    *
    * Returning ALL rows (not just survivors) is deliberate: an erasure
    * pass must produce an auditable manifest of what was removed and
    * WHY (seed vs propagated), not just the surviving corpus — the
    * caller filters `status = 'kept'` for the output corpus and writes
    * the rest to the audit log.
    *
    * Scale (100 TB): deletion lists are tiny relative to the corpus, so
    * both derived relations — the distinct seed set and the distinct
    * set of clusters containing a seed — are broadcast; the corpus-side
    * clusters frame is traversed once with two broadcast left-joins and
    * never shuffles. (If a pathological request names a large fraction
    * of the corpus, Spark's broadcast-size guard fails loudly rather
    * than silently degrading — drop the explicit [[broadcast]] hints for
    * that regime and let AQE pick the join side.)
    */
  def forgetPropagate(
      clustersDf: DataFrame, seeds: DataFrame, seedIdCol: String = "id"): DataFrame = {
    val seedSet = seeds
      .select(graft.ops.Cleaning.qcol(seedIdCol).as("id")).distinct()
      .withColumn("__is_seed", lit(true))
    val seedClusters = clustersDf
      .join(broadcast(seedSet.select(col("id"))), Seq("id"))
      .select(col("cluster")).distinct()
      .withColumn("__hit", lit(true))
    clustersDf
      .join(broadcast(seedSet), Seq("id"), "left")
      .join(broadcast(seedClusters), Seq("cluster"), "left")
      .select(col("id"), col("cluster"),
        when(col("__is_seed"), lit("seed"))
          .when(col("__hit"), lit("propagated"))
          .otherwise(lit("kept")).as("status"))
  }

  /** Ids a dedup pass should DROP: every edge-touched id whose component
    * min is NOT itself. Singletons are always their own representative
    * and non-representatives always touch an edge, so — unlike
    * [[clusters]] — this needs no join against the corpus at all: the
    * result is bounded by the duplicate mass, and in the driver path it
    * is a broadcastable local relation, so the caller's anti-join never
    * shuffles the corpus. [[TextAnalysis.cleanCorpus]] builds on this.
    */
  def nonRepresentatives(
      pairs: DataFrame, maxIter: Int = 20,
      checkEvery: Int = 2): DataFrame = {
    val (labels, local) = edgeLabels(pairs, maxIter, checkEvery)
    val nr = labels.filter(col("id") =!= col("cluster")).select(col("id"))
    if (local) broadcast(nr) else nr
  }

  /** Shared core of [[clusters]]/[[nonRepresentatives]]: min-label
    * components over the EDGE-TOUCHED ids only, as (id, cluster) rows
    * plus a flag for "driver-local relation" (safe to broadcast).
    */
  private def edgeLabels(
      pairs: DataFrame, maxIter: Int,
      checkEvery: Int): (DataFrame, Boolean) = {
    require(checkEvery >= 1, s"checkEvery must be >= 1, got $checkEvery")
    val idType = pairs.schema("id_a").dataType
    if (driverOrdering(idType).isDefined)
      DriverFold.collect(pairs, col("id_a"), col("id_b")) match {
        case Some(rows) => return (edgeLabelsDriver(pairs.sparkSession, rows, idType), true)
        case None => () // over budget: run distributed below
      }
    val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Only nodes that appear in some edge can ever change label; the rest
    // are singletons (cluster = id), attached with one left join at the
    // end. At 100 TB this keeps the iteration cost proportional to the
    // duplicate mass, not the corpus size.
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
    // one min-label propagation step: carry the previous label through
    // the union (null for neighbor candidates; min ignores nulls, and
    // each id contributes exactly one non-null `old`)
    def step(l: DataFrame): DataFrame = {
      val viaNeighbor = edges
        .join(l.select(col("id").as("src"), col("cluster")), "src")
        .select(col("dst").as("id"), col("cluster"), lit(null).as("old"))
      l.select(col("id"), col("cluster"), col("cluster").as("old"))
        .unionByName(viaNeighbor)
        .groupBy("id").agg(min("cluster").as("cluster"), min("old").as("old"))
    }
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      val steps = math.min(checkEvery, maxIter - iter)
      var merged: DataFrame = null
      var l = labels
      for (_ <- 1 to steps) {
        merged = step(l)
        l = merged.select(col("id"), col("cluster"))
      }
      // Each step reads the previous labels twice, so an uncut plan
      // doubles per step. The lazy localCheckpoint cuts it here, and the
      // convergence count below materializes it (one job per check).
      val mat = merged.localCheckpoint(eager = false)
      // the LAST step unchanged ⇒ fixed point (earlier steps irrelevant)
      converged = mat.filter(col("cluster") =!= col("old")).count() == 0
      labels = mat.select(col("id"), col("cluster"))
      iter += steps
    }
    if (!converged) {
      edges.unpersist()
      throw new IllegalStateException(
        s"Dedup.clusters did not converge within maxIter=$maxIter rounds — " +
          "components wider than maxIter hops would be left partially merged; raise maxIter")
    }
    // Snapshot the converged labels with an EAGER localCheckpoint (one
    // scan of the already-checkpointed frame; blocks are lineage-free
    // and RELEASED by the ContextCleaner once unreferenced — unlike
    // persist(), which pins the frame in the cache manager until someone
    // calls unpersist), then drop the edge cache HERE instead of leaking
    // it to the caller. Eager, so the snapshot exists before the
    // unpersist below and the caller's first action never reaches back
    // into the loop. The label frame is proportional to the duplicate
    // mass (edge-touched ids only), not the corpus. Tradeoff: checkpoint
    // blocks carry no lineage, so losing an executor that holds one
    // fails the downstream action (re-run the query) — accepted over a
    // persist the caller can never release.
    val snap = labels.localCheckpoint()
    edges.unpersist()
    (snap, false)
  }

  /** Driver-side orderings for the id types min-label semantics needs a
    * total order on; None → the distributed path handles the type.
    */
  private def driverOrdering(
      dt: org.apache.spark.sql.types.DataType): Option[Ordering[Any]] = {
    import org.apache.spark.sql.types._
    dt match {
      case LongType => Some(Ordering.by((x: Any) => x.asInstanceOf[Long]))
      case IntegerType => Some(Ordering.by((x: Any) => x.asInstanceOf[Int]))
      case ShortType => Some(Ordering.by((x: Any) => x.asInstanceOf[Short]))
      case StringType => Some(new Ordering[Any] {
        // Spark's min() on strings compares UTF-8 BYTES (UTF8String
        // binary order), which differs from Java's UTF-16 compareTo
        // beyond the BMP (supplementary chars sort above U+E000..U+FFFF
        // in UTF-8, below them in UTF-16). Both paths must pick the
        // same representative, so compare the same bytes here.
        def compare(a: Any, b: Any): Int = java.util.Arrays.compareUnsigned(
          a.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8),
          b.asInstanceOf[String].getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      case _ => None
    }
  }

  /** Union-find (path compression + union by size) over a collected
    * pair set, labeling every edge-touched id with the MIN id of its
    * component — byte-identical to the distributed propagation's fixed
    * point. The label table is bounded by 2×|pairs| ids and ships back
    * as a broadcastable local relation: one job end-to-end.
    */
  private def edgeLabelsDriver(
      spark: org.apache.spark.sql.SparkSession,
      pairRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val ord = driverOrdering(idType).get
    val parent = new java.util.HashMap[Any, Any]()
    val size = new java.util.HashMap[Any, Int]()
    def find(x: Any): Any = {
      var r = x
      while (parent.get(r) != null) r = parent.get(r)
      var c = x // path compression
      while (parent.get(c) != null) { val n = parent.get(c); parent.put(c, r); c = n }
      r
    }
    def union(a: Any, b: Any): Unit = {
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        val sa = size.getOrDefault(ra, 1); val sb = size.getOrDefault(rb, 1)
        val (big, small) = if (sa >= sb) (ra, rb) else (rb, ra)
        parent.put(small, big)
        size.put(big, sa + sb)
        size.remove(small)
      }
    }
    pairRows.foreach { r => union(r.get(0), r.get(1)) }
    // component representative = MIN member id (roots are size-chosen,
    // not min) — one pass to collect the min per root, one to label
    val minOf = new java.util.HashMap[Any, Any]()
    val members = new java.util.HashSet[Any]()
    pairRows.foreach { r => members.add(r.get(0)); members.add(r.get(1)) }
    members.forEach { m =>
      val r = find(m)
      val cur = minOf.get(r)
      if (cur == null || ord.lt(m, cur)) minOf.put(r, m)
    }
    val labelRows = new java.util.ArrayList[org.apache.spark.sql.Row](members.size)
    members.forEach { m =>
      labelRows.add(org.apache.spark.sql.Row(m, minOf.get(find(m))))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id", idType),
      org.apache.spark.sql.types.StructField("cluster", idType)))
    spark.createDataFrame(labelRows, schema)
  }

  /** Cross-document duplicated n-gram statistics — the repetition /
    * contamination metric behind exact-substring dedup (how much of
    * each document's k-gram mass also appears in OTHER documents).
    * Per doc: distinct k-shingle count, how many of those shingles
    * occur in ≥2 documents, and the duplicated ratio.
    *
    * Scale: explode distinct shingles (narrow), ONE groupBy on the
    * shingle key for document frequency (map-side partials apply since
    * shingles are pre-distinct per doc), join back on the same key
    * (co-partitioned), aggregate per doc. Shuffle volume ∝ distinct
    * shingle mass — the same scaling as any inverted index build.
    */
  def crossDocNgramStats(
      df: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame = {
    // Document frequency via groupBy + join back on the shingle key.
    // The groupBy PARTIALLY aggregates: a boilerplate shingle present in
    // a large fraction of documents collapses map-side, so no task ever
    // receives the hot shingle's full row set (a window count over the
    // shingle key would buffer all of it in ONE WindowExec task — the
    // straggler AQE cannot split; a skewed JOIN partition it can). Only
    // the SHARED shingles (doc freq ≥ 2 — the duplicated mass, a small
    // fraction of a mostly-unique shingle space) join back, as a LEFT
    // join: when that set is broadcastable the per-doc counting never
    // shuffles the exploded frame at all. Costs a second (narrow,
    // native) shingle pass instead of the r3 persist, which leaked;
    // shingles are distinct within a doc, so the count == doc frequency.
    // Hashed (64-bit) shingles, not strings: hash equality ≡ string
    // equality (collisions ~1e-15 at these cardinalities), the counts
    // are identical, and the shuffle carries longs instead of k-token
    // strings — the native tight loop also replaces the interpreted
    // HOF shingling (measured 5.3s -> ~1s at sf0.1).
    val toks = TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol))
    val sh = df.select(graft.ops.Cleaning.qcol(idCol),
      explode(graft.functions.Native.hashedShingleSet(toks, k)).as("__sh"))
    val shared = sh.groupBy(col("__sh")).agg(count(lit(1)).as("__nd"))
      .filter(col("__nd") >= 2)
    sh.join(shared, Seq("__sh"), "left")
      .groupBy(graft.ops.Cleaning.qcol(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__nd").isNotNull, 1L).otherwise(0L)).as("n_shared"),
        (sum(when(col("__nd").isNotNull, 1L).otherwise(0L)) / count(lit(1))).as("dup_ratio"))
  }

  /** Benchmark decontamination: per corpus document, how much of its
    * k-gram mass appears in an EXTERNAL benchmark/eval set — the
    * standard "did eval data leak into training data" audit (and, at a
    * threshold, the drop filter). Output per doc: distinct k-shingle
    * count, shingles also present in the benchmark, contamination
    * ratio.
    *
    * Scale: the corpus side is one narrow explode of per-doc distinct
    * hashed shingles + one doc-keyed hash aggregate (same shape as
    * [[crossDocNgramStats]]). The benchmark side is EVAL-sized — its
    * distinct'd shingle set is orders of magnitude smaller than the
    * corpus, so the probe join broadcasts (AQE picks it up from the
    * post-distinct stats; shingles are 8-byte hashes, ~10⁶ shingles
    * ≈ 10 MB). Nothing scales with corpus × benchmark.
    */
  def contaminationAgainst(
      corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, k: Int = 5): DataFrame = {
    def shingles(df: DataFrame) = graft.functions.Native.hashedShingleSet(
      TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol)), k)
    val sh = corpus.select(graft.ops.Cleaning.qcol(idCol),
      explode(shingles(corpus)).as("__sh"))
    val bench = benchmark.select(explode(shingles(benchmark)).as("__sh"))
      .distinct().withColumn("__hit", lit(1))
    // explicit hint: the benchmark set is eval-sized by contract, so the
    // corpus side must never shuffle for this join
    sh.join(broadcast(bench), Seq("__sh"), "left")
      .groupBy(graft.ops.Cleaning.qcol(idCol))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__hit") === 1, 1L).otherwise(0L)).as("n_contaminated"),
        (sum(when(col("__hit") === 1, 1L).otherwise(0L)) / count(lit(1)))
          .as("contam_ratio"))
  }

  /** [[contaminationAgainst]] behind a Bloom-filter prefilter — the
    * shape decontamination takes when the benchmark SUITE outgrows a
    * comfortable broadcast (every eval set a lab tracks, ~10⁹ shingles):
    * the benchmark's membership compresses to ~1.2 bytes/shingle at 1%
    * fpp, ships to every task as ONE literal, and documents with no
    * possible hit (the overwhelming majority of a clean corpus) never
    * reach the exact join at all — they take the narrow
    * `exists(shingles, might_contain)` path and report zero. Only BF
    * candidates (true hits + the fpp sliver) join the real benchmark
    * set, so the join's left side shrinks by the corpus'
    * contamination rate.
    *
    * EXACT output: Bloom filters have no false negatives, so
    * candidates ⊇ contaminated docs, and the exact join then zeroes
    * the false positives — the result equals [[contaminationAgainst]]
    * bit for bit (spec-asserted), the prefilter is purely a cost shape.
    *
    * Driver bound: the filter's byte size (`-ln(fpp)/ln²2 / 8` bytes
    * per shingle) — eval-suite-sized by contract, like the broadcast
    * it replaces. Costs one extra narrow shingle pass over the corpus
    * (the candidate split); at 100 TB persist the shingled frame
    * between the two passes if memory allows.
    */
  def decontaminateBloom(
      corpus: DataFrame, benchmark: DataFrame, idCol: String,
      textCol: String, k: Int = 5, fpp: Double = 0.01): DataFrame = {
    require(fpp > 0 && fpp < 1, s"fpp must be in (0,1), got $fpp")
    val id = graft.ops.Cleaning.qcol(idCol)
    def shingles(df: DataFrame) = graft.functions.Native.hashedShingleSet(
      TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol)), k)
    // r14: the benchmark shingle set is read three times (the sizing
    // count, the Bloom build, the exact join's broadcast) — materialize
    // the eval-sized distinct frame once
    val benchSh = benchmark.select(explode(shingles(benchmark)).as("__sh")).distinct()
      .localCheckpoint(eager = false)
    val bf = benchSh.stat.bloomFilter("__sh", math.max(benchSh.count(), 1L), fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val bfLit = lit(bos.toByteArray)
    def mightContain(h: Column): Column = org.apache.spark.sql.GraftBridge.column(
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        org.apache.spark.sql.GraftBridge.expr(bfLit),
        org.apache.spark.sql.GraftBridge.expr(h)))
    val withSets = corpus.select(id, shingles(corpus).as("__shs"))
      .filter(col("__shs").isNotNull) // null text never shingles (join parity)
      // the scaladoc's "persist the shingled frame between the two
      // passes" (r14): candidate and clean branches each re-shingled
      // the corpus AND re-scanned the Bloom filter without it
      .localCheckpoint(eager = false)
    val isCandidate = exists(col("__shs"), h => mightContain(h))
    val candStats = withSets.filter(isCandidate)
      .select(id, explode(col("__shs")).as("__sh"))
      .join(broadcast(benchSh.withColumn("__hit", lit(1))), Seq("__sh"), "left")
      .groupBy(id)
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("__hit") === 1, 1L).otherwise(0L)).as("n_contaminated"),
        (sum(when(col("__hit") === 1, 1L).otherwise(0L)) / count(lit(1)))
          .as("contam_ratio"))
    val cleanStats = withSets.filter(!isCandidate)
      .select(id,
        size(col("__shs")).cast("long").as("n_shingles"),
        lit(0L).as("n_contaminated"),
        lit(0.0).as("contam_ratio"))
    candStats.unionByName(cleanStats)
  }

  /** Exact dedup keeping the BEST row of each content group by a score
    * column (quality score, recency, source priority) instead of
    * `exact`'s min-id canonical — "of these identical documents, keep
    * the one from the highest-quality source". Deterministic tiebreak
    * on min id. One hash aggregate (max_by over a (score, -id) struct),
    * same shuffle shape as `exact`.
    */
  def exactKeepBest(
      df: DataFrame, idCol: String, contentCols: Seq[String],
      scoreCol: String): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    // variadic xxhash64 hashes each column as its own field - no
    // concatenation/separator, so no content can alias the key
    val key = xxhash64(contentCols.map(graft.ops.Cleaning.qcol): _*)
    val ranked = struct(
      graft.ops.Cleaning.qcol(scoreCol).as("s"), (-id).as("negid"))
    val best = df
      .select(id.as("__id__"), key.as("__key__"), ranked.as("__rank__"))
      .groupBy("__key__")
      .agg(max_by(col("__id__"), col("__rank__")).as("__keep__"))
      .select(col("__keep__").as("__id__"))
    df.join(best, id === col("__id__")).drop("__id__")
  }

  /** The content fingerprint incremental exact dedup keys on —
    * xxhash64 of the normalized token stream, NULL-guarded: Spark's
    * xxhash64 SKIPS null inputs (returns the seed hash), which would
    * silently collapse every null-text row into ONE shared fingerprint
    * and drop null-text batch rows as "duplicates" of any null-text
    * index row. A null fingerprint matches nothing in the anti-join,
    * so guarded rows are kept as novel.
    */
  private def tokenFingerprint(t: Column): Column =
    when(t.isNotNull, xxhash64(array_join(TextAnalysis.tokens(t), " ")))

  /** Incremental exact dedup: drop batch rows whose normalized token
    * stream already exists in a reference corpus — the per-delivery
    * dedup of an INCREMENTAL ingest (the index side is typically the
    * persisted fingerprint column of everything accepted so far, not
    * the full text).
    *
    * Scale: both sides reduce to a 64-bit fingerprint (narrow map);
    * the left_anti join co-partitions on the hash. At 100 TB the index
    * side is a pre-distinct'd fingerprint table — bytes per historical
    * doc, not the document itself.
    */
  def dedupAgainstIndex(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String): DataFrame = {
    val indexFps = index
      .select(tokenFingerprint(graft.ops.Cleaning.qcol(textCol)).as("__fp__")).distinct()
    batch.withColumn("__fp__", tokenFingerprint(graft.ops.Cleaning.qcol(textCol)))
      .join(indexFps, Seq("__fp__"), "left_anti")
      .drop("__fp__")
  }

  /** Content-defined chunk table: one row per CDC chunk of each
    * document — (idCol, chunk_index, start, len, chunk_hash), where
    * boundaries are content-derived (see [[graft.functions.Native.CdcChunks]])
    * so shared passages land in IDENTICAL chunks regardless of where
    * they sit in the document. Grouping by chunk_hash then gives the
    * storage-dedup / delta-compression census (how much of the corpus
    * is repeated byte runs) that fixed-width chunking structurally
    * misses after any insertion.
    *
    * Scale: one narrow native map + posexplode — no shuffle; the
    * downstream census is one hash aggregate on an 8-byte key.
    */
  def cdcChunkTable(
      df: DataFrame, idCol: String, textCol: String,
      w: Int = 8, divisor: Int = 64): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    df.select(id, posexplode(
        graft.functions.Native.cdcChunks(graft.ops.Cleaning.qcol(textCol), w, divisor)).as(Seq("__i", "__c")))
      .select(id, col("__i").cast("long").as("chunk_index"),
        col("__c.start").as("start"), col("__c.len").as("len"),
        col("__c.hash").as("chunk_hash"))
  }

  /** 64-bit SimHash over the token stream: bit j of the fingerprint is
    * the sign of Σ_tokens (±1 depending on bit j of xxhash64(token)).
    * Pure higher-order expressions; one narrow map.
    */
  def simhash(tokens: Column): Column =
    graft.functions.Native.simhash64(tokens)

  /** SimHash near-dup pairs within a Hamming-distance budget.
    * Candidate generation by the pigeonhole principle: split the
    * fingerprint into (maxHamming+1) chunks; any pair within the budget
    * shares at least one exact chunk → bucket-join on (chunk index,
    * chunk value), then verify true Hamming distance. Recall is EXACT
    * (not probabilistic) unless `maxBucketSize` drops degenerate
    * buckets.
    *
    * `portable = true` swaps the xxhash64 token hash for the 60-bit
    * two-polynomial form (`Native.simhashPortable`) whose every step a
    * SQL engine reproduces — the oracle-checkable configuration; the
    * xxhash64 default is the (faster) production path. Fingerprint
    * width divides into chunks either way (64/4 and 60/4); any bits
    * past chunks*bitsPer are verified by the Hamming filter but unused
    * for bucketing, which can only add candidates, never lose one.
    */
  def nearDupSimhash(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3, maxBucketSize: Int = DefaultMaxBucketSize,
      portable: Boolean = false, collapseIdentical: Boolean = true): DataFrame = {
    val fpBits = if (portable) 60 else 64
    val toks = TextAnalysis.tokens(graft.ops.Cleaning.qcol(textCol))
    val fpExpr =
      if (portable) graft.functions.Native.simhashPortable(toks) else simhash(toks)
    nearDupByFingerprint(
      df.select(graft.ops.Cleaning.qcol(idCol), fpExpr.as("fp")),
      idCol, "fp", maxHamming, fpBits, maxBucketSize, collapseIdentical)
  }

  /** Hamming near-dup pairs over an EXISTING integer fingerprint column
    * — the banding half of [[nearDupSimhash]], generic so ANY ≤64-bit
    * fingerprint family reuses it (text simhash, perceptual image
    * hashes over multimodal payloads, CDC chunk hashes…): pigeonhole
    * split into `maxHamming + 1` chunks (two fingerprints within
    * `maxHamming` MUST agree on at least one chunk), candidates from
    * per-chunk bucket joins, exact `bit_count(xor)` verify.
    * When `maxHamming + 1` doesn't divide `fpBits` the remainder bits
    * sit outside every chunk — recall still holds (a diff there only
    * consumes Hamming budget, so ≤ maxHamming diffs over maxHamming+1
    * covered chunks still leave one clean chunk); chunks merely
    * discriminate on fewer bits. `fpBits >= maxHamming + 1` is required
    * so every chunk has at least one bit.
    *
    * EXACT-COLLAPSE prepass (`collapseIdentical`, ON by default): docs
    * sharing the SAME fingerprint value collapse to one representative
    * before the chunk self-join, and verified representative pairs
    * expand back to member pairs (intra-group Hamming is exactly 0,
    * always within budget). Lossless: the verify depends only on the
    * two fingerprints. Same double cap as [[nearDupMinhash]]'s
    * collapse: reps per chunk bucket AND members per fingerprint group.
    */
  def nearDupByFingerprint(
      fps: DataFrame, idCol: String, fpCol: String,
      maxHamming: Int = 3, fpBits: Int = 64,
      maxBucketSize: Int = DefaultMaxBucketSize,
      collapseIdentical: Boolean = true): DataFrame = {
    val chunks = maxHamming + 1
    require(fpBits >= chunks,
      s"fpBits = $fpBits must be >= maxHamming+1 = $chunks (every chunk needs a bit)")
    val bitsPer = fpBits / chunks
    val id = graft.ops.Cleaning.qcol(idCol)
    val fp = fps.select(id, graft.ops.Cleaning.qcol(fpCol).as("fp"))

    val chunkStructs = (0 until chunks).map { c =>
      struct(lit(c).as("chunk"),
        shiftright(col("fp"), c * bitsPer)
          .bitwiseAND((1L << bitsPer) - 1).as("ckey"))
    }

    def verified(buckets: DataFrame, bucketId: Column): DataFrame =
      selfPairs(buckets, Seq("chunk", "ckey"), bucketId, col("fp") -> "fp")
        .select(col("id_a"), col("id_b"), bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).as("hamming"))
        .filter(col("hamming") <= maxHamming) // cheap predicate BEFORE the dedup shuffle
        .distinct()

    if (collapseIdentical) {
      // null fingerprints pair with nothing on the uncollapsed path
      // (equi-join keys); dropping that group up front preserves it
      val groups0 = fp.filter(col("fp").isNotNull)
        .groupBy(col("fp")).agg(min(id).as("__rep__"), collect_list(id).as("__mem__"))
      val groups = if (maxBucketSize <= 0) groups0
        else groups0.filter(size(col("__mem__")) <= maxBucketSize)
      val buckets = capBuckets(
        groups.select(col("__rep__"), col("fp"), explode(array(chunkStructs: _*)).as("cb"))
          .select(col("__rep__"), col("fp"), col("cb.chunk"), col("cb.ckey")),
        Seq("chunk", "ckey"), maxBucketSize)
      expandCollapsed(verified(buckets, col("__rep__")), groups,
        groups.filter(size(col("__mem__")) > 1),
        Seq(lit(0).cast("int").as("hamming")))
    } else {
      val buckets0 = fp.select(id, col("fp"),
          explode(array(chunkStructs: _*)).as("cb"))
        .select(id, col("fp"), col("cb.chunk"), col("cb.ckey"))

      // Skew guard: a bucket shared by hundreds of docs (correlated bits —
      // e.g. near-identical vocabulary corpus-wide) is non-discriminative
      // and quadratic in the self-join. Dropping oversized buckets is the
      // standard LSH skew mitigation; the pigeonhole recall guarantee then
      // holds for pairs that share at least one NON-degenerate chunk.
      // maxBucketSize <= 0 disables the cap.
      verified(capBuckets(buckets0, Seq("chunk", "ckey"), maxBucketSize), id)
    }
  }

  /** Semantic duplicate pairs (the SemDeDup shape, Abbas et al. 2023,
    * arXiv:2303.09540): cluster embeddings with the same bounded
    * deterministic coarse quantizer as [[Similarity.ivfTopK]], compare
    * cosine ONLY within cells, and call a pair semantic duplicates at
    * `threshold` — the embedding-space dedup that catches paraphrases
    * and re-renderings exact/MinHash text dedup structurally misses.
    *
    * Scale: the quadratic stage ships 8-byte id pairs (vectors are
    * fetched back by two id-keyed joins AFTER the within-cell
    * self-join, cf. [[nearDupEmbedding]]); per-cell work is
    * O(cellSize²), so `nlist` scales with the corpus (SemDeDup's own
    * contract — ~sqrt(n) cells keeps total pair work ~n^1.5) and
    * `maxCellSize` (via [[capBuckets]]) guards the degenerate cell a
    * mode-collapsed embedding model produces. `nlist = 1` is the
    * oracle configuration: one cell = exhaustive all-pairs cosine,
    * hash-checked against the brute-force SQL oracle
    * (`x_dedup_semantic`); clustered production configs are spec-bound
    * (identical vectors always share a cell, so exact-duplicate recall
    * is 1.0 at any nlist).
    */
  def semanticDedupPairs(
      df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 256, threshold: Double = 0.95,
      seed: Long = 42L, maxCellSize: Int = DefaultMaxBucketSize,
      centroids0: Option[Array[Array[Double]]] = None): DataFrame = {
    val id = graft.ops.Cleaning.qcol(idCol)
    val v = graft.ops.Cleaning.qcol(vecCol)
    // cells on the normalized vectors (cosine geometry); zero-norm
    // vectors get a NULL cell and drop out — directionless vectors
    // have cosine 0 to everything, never a semantic duplicate.
    // Quantizer: caller-supplied (persisted via Models.saveCentroids —
    // fit once, reuse across waves) or a fresh bounded deterministic
    // fit (Similarity.fitIvfCentroids).
    val normArr = graft.functions.Native.l2Normalize(v)
    val centroids = centroids0.getOrElse(
      Similarity.fitIvfCentroids(df, idCol, vecCol, nlist, normalize = true, seed = seed))
    val cells0 = df.select(id,
      graft.functions.Native.nearestCells(normArr, centroids, 1)(0).as("__cell__"))
    val cells = capBuckets(cells0, Seq("__cell__"), maxCellSize)
    withSides(selfPairs(cells, Seq("__cell__"), id).select("id_a", "id_b"), df, id, v -> "v")
      .select(col("id_a"), col("id_b"), Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** The PERSISTABLE vector-side index of an accepted corpus: one row
    * per accepted id with its coarse cell under a FIXED quantizer plus
    * the vector itself — what a multi-wave semantic-dedup pipeline
    * writes once per accepted wave and probes each new delivery
    * against (the vector analogue of [[minhashBandIndex]] +
    * [[hashedShingleTable]] in one frame; persist the CENTROIDS too,
    * via [[Models.saveCentroids]] — a refit would silently shift cell
    * assignments and lose cross-wave recall).
    * Zero-norm vectors get a NULL cell and drop out (directionless —
    * never a semantic duplicate).
    */
  def semanticCellIndex(
      df: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]]): DataFrame = {
    val v = graft.ops.Cleaning.qcol(vecCol)
    df.select(
      graft.ops.Cleaning.qcol(idCol),
      graft.functions.Native.nearestCells(
        graft.functions.Native.l2Normalize(v), centroids, 1)(0).as("cell"),
      v.as(vecCol))
  }

  /** Semantic near-dup pairs of a NEW WAVE against an accepted-corpus
    * [[semanticCellIndex]]: batch rows are assigned cells under the
    * SAME centroids, candidates come from a cell equi-join (batch
    * cells × index cells — never accepted × accepted: settled pairs
    * are settled), and exact cosine verifies. Output (id_a = batch id,
    * id_b = index id, cosine >= threshold).
    *
    * Scale: each id sits in exactly ONE cell, so the equi-join emits
    * each candidate pair once and the index vector rides the join row
    * (no second fetch join needed — the [[Similarity.ivfTopK]] cells
    * shape); `maxCellSize` caps both sides independently, same
    * rationale as the band-bucket caps.
    */
  def semanticDedupPairsAgainstIndex(
      batch: DataFrame, index: DataFrame, idCol: String, vecCol: String,
      centroids: Array[Array[Double]], threshold: Double = 0.95,
      maxCellSize: Int = DefaultMaxBucketSize): DataFrame = {
    val bCells = capBuckets(
      semanticCellIndex(batch, idCol, vecCol, centroids), Seq("cell"), maxCellSize)
    val iCells = capBuckets(index, Seq("cell"), maxCellSize)
    bCells
      .select(col("cell"), graft.ops.Cleaning.qcol(idCol).as("id_a"),
        graft.ops.Cleaning.qcol(vecCol).as("__v_a__"))
      .join(iCells.select(col("cell"), graft.ops.Cleaning.qcol(idCol).as("id_b"),
        graft.ops.Cleaning.qcol(vecCol).as("__v_b__")), Seq("cell"))
      .select(col("id_a"), col("id_b"),
        Similarity.cosine(col("__v_a__"), col("__v_b__")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Embedding-cosine near-dup pairs via random-hyperplane LSH buckets +
    * exact cosine verification. Deterministic hyperplanes from `seed`.
    *
    * Candidate pairs are deduplicated as BARE ID PAIRS before the
    * vectors are fetched back by two id-keyed joins: the bucket
    * self-join (the skew-prone stage) shuffles 16-byte id pairs instead
    * of 2×64-float vectors, and the cosine runs once per distinct pair
    * instead of once per (pair × shared table). At high `tables` the
    * old carry-vectors form did `tables`× redundant cosine work.
    */
  def nearDupEmbedding(
      df: DataFrame, idCol: String, vecCol: String,
      bits: Int = 12, tables: Int = 4, threshold: Double = 0.95,
      seed: Long = 42L, dim: Int = 64): DataFrame = {
    // r15: both self-join sides read the keyed frame — materialize it
    // once (three narrow columns) so the tables×bits hyperplane pass
    // over the vectors runs once, not twice (guide §2.4)
    val id = graft.ops.Cleaning.qcol(idCol)
    val keyed = Similarity.withLshKeys(
        df.select(id, graft.ops.Cleaning.qcol(vecCol)), vecCol, bits, tables, seed, dim)
      .select(col("table"), col("lsh_key"), id)
      .localCheckpoint(eager = false)
    val pairs = selfPairs(keyed, Seq("table", "lsh_key"), id).select("id_a", "id_b").distinct()
    withSides(pairs, df, id, graft.ops.Cleaning.qcol(vecCol) -> "v")
      .select(col("id_a"), col("id_b"), Similarity.cosine(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }
}
