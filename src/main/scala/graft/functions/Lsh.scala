package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Locality-sensitive hashing primitives: MinHash (Jaccard), SimHash
  * (cosine-ish over sets), and random-hyperplane signatures (embedding
  * cosine). These are the 100 TB near-dup / ANN path: candidate pairs come
  * from equality joins on band keys (a narrow hash-shuffle), never from an
  * n² pair matrix.
  *
  * Hash family: instead of an engine-private hash (xxhash64), signatures
  * are built from the rolling polynomial fingerprint
  * (TextAnalysis.rollingFingerprint) composed with affine permutations
  * `(a*x + b) mod P` — every step is plain integer arithmetic, so the
  * DuckDB oracle can state the identical computation and the driver's
  * hash-compare verifies these operators exactly rather than rows-only.
  * All constants are generated here and interpolated into the oracle SQL
  * from the same values (single source of truth).
  *
  * Everything is `transform`/`filter`/`aggregate` HOFs — codegen'd, no
  * UDFs, no driver-side state.
  */
object Lsh {

  /** Modulus for the fingerprint/permutation family (fits products in i64:
    * a < 2^33, x < P ≈ 2^30 → a*x+b < 2^63).
    */
  val P: Long = 1000000007L

  /** MinHash signature length and banding shape (bands * rowsPerBand = K). */
  val K: Int = 16
  val Bands: Int = 4
  val RowsPerBand: Int = 4

  /** Affine permutation parameters, derived from a fixed multiplicative
    * sequence (Knuth's 2654435761 mixer) — deterministic, collision-free
    * `a != 0`.
    */
  val A: Seq[Long] = (1 to K).map(i => 1L + (i.toLong * 2654435761L) % (P - 1))
  val B: Seq[Long] = (1 to K).map(i => (i.toLong * 1103515245L + 12345L) % P)

  /** MinHash signature/banding geometry. `k` positions in `bands` bands of
    * `k/bands` rows; the affine-permutation parameters extend the same
    * fixed mixing sequences as the legacy A/B (a geometry's prefix is
    * always the smaller geometry's parameter set).
    *
    * The corpus-size response: a pair at Jaccard s collides in a band with
    * probability s^rowsPerBand, so candidate volume on unrelated pairs is
    * ~n²·bands·E[s^r] — deepening the bands (r 4 → 8) collapses the
    * low-similarity collision mass while k=64 halves the signature
    * estimator's std error vs k=16.
    */
  final case class MinHashGeometry(k: Int, bands: Int) {
    require(k > 0 && bands > 0 && k % bands == 0,
      s"bands ($bands) must divide signature length ($k)")
    val rowsPerBand: Int = k / bands
    val a: Seq[Long] = (1 to k).map(i => 1L + (i.toLong * 2654435761L) % (P - 1))
    val b: Seq[Long] = (1 to k).map(i => (i.toLong * 1103515245L + 12345L) % P)
  }

  /** The default geometry (≡ the legacy K/Bands/A/B path: q22's contract). */
  val Mh16: MinHashGeometry = MinHashGeometry(16, 4)

  /** Wide geometry for large corpora: 64-position signature, 8 bands of 8
    * rows — band collisions fall from s^4 to s^8 (0.5-similarity pairs:
    * 16× fewer candidates per band) and the Jaccard estimate runs at 1/64
    * resolution.
    */
  val Mh64: MinHashGeometry = MinHashGeometry(64, 8)

  /** Per-element polynomial fingerprints of a string array. */
  def fingerprints(strings: Column): Column =
    transform(strings, s => TextAnalysis.rollingFingerprint(s))

  /** Band keys: fold each band's `rowsPerBand` signature values with a
    * base-31 polynomial, reduced mod P each step so any rowsPerBand stays
    * exact in i64 (the unreduced fold overflows past r=6: 31^r·P > 2^63).
    * Key collisions between distinct band slices are ~2^-30 — noise
    * against the band-collision mass, and mirrored exactly by the oracle
    * twin. Returns an array of (band, key) structs to explode for the
    * bucket join.
    */
  def bandKeys(sig: Column, geom: MinHashGeometry): Column =
    transform(sequence(lit(0), lit(geom.bands - 1)), t =>
      struct(
        t.as("band"),
        aggregate(slice(sig, t * lit(geom.rowsPerBand) + 1, lit(geom.rowsPerBand)),
          lit(0L), (acc, v) => (acc * 31 + v) % lit(P)).as("key")))

  /** Fraction of signature positions where two signatures agree — the
    * MinHash estimate of Jaccard similarity.
    */
  def signatureAgreement(sa: Column, sb: Column, k: Int = K): Column =
    size(filter(sequence(lit(1), lit(k)), i =>
      element_at(sa, i) === element_at(sb, i))).cast("double") / lit(k.toDouble)

  // ---- SimHash ------------------------------------------------------------

  /** SimHash width (bits) and the mixing constants for the 32-bit hash
    * `g(x) = (G_A*fp(x) + G_B) mod 2^32`.
    */
  val SimBits: Int = 32
  val GA: Long = 2654435761L
  val GB: Long = 2246822519L
  val TwoPow32: Long = 4294967296L

  // ---- Parameterized SimHash geometry -------------------------------------

  /** Second mixing pair for fingerprints wider than 32 bits (odd, so the
    * affine map is bijective mod 2^32 — same family as GA/GB).
    */
  val GA2: Long = 3266489917L
  val GB2: Long = 668265263L

  /** SimHash band geometry: `bits`-wide fingerprints (stored as 32-bit
    * words so every value stays exact under both engines' double
    * arithmetic) blocked into `bands` keys of `bits/bands` bits each.
    *
    * The corpus-size response: in-bucket collision rate on unrelated docs
    * is ~2^-width per band, so candidate volume grows ~n²·bands/2^width —
    * widening the fingerprint (and the bands with it) is how the blocking
    * stays subquadratic as n grows. 32/4 suits the test corpus; a 100 TB
    * corpus wants 64/8 or wider.
    *
    * Pigeonhole completeness: a pair at hamming h differs in at most h
    * bands, so blocking finds every pair with h <= bands - 1. Callers
    * must keep `maxHamming < bands` (asserted in NearDup.simHashPairs).
    */
  final case class SimGeometry(bits: Int, bands: Int,
                               gas: Seq[Long], gbs: Seq[Long]) {
    require(bits > 0 && bits % 32 == 0, s"bits must be a multiple of 32, got $bits")
    val words: Int = bits / 32
    require(gas.length == words && gbs.length == words,
      s"need $words (ga,gb) mixing pairs for $bits bits, got ${gas.length}/${gbs.length}")
    require(gas.forall(a => (a & 1L) == 1L), "mixers must be odd (bijective mod 2^32)")
    require(bands > 0 && bits % bands == 0, s"bands ($bands) must divide bits ($bits)")
    val width: Int = bits / bands
    require(width <= 32 && 32 % width == 0,
      s"band width ($width) must divide the 32-bit word so no band straddles words")
    val bandsPerWord: Int = 32 / width
  }

  /** The default geometry (≡ the scalar SimHash path: q23's contract). */
  val Sim32: SimGeometry = SimGeometry(32, 4, Seq(GA), Seq(GB))

  /** Wide geometry for large corpora: 64-bit fingerprint, 4 bands of 16
    * bits. Same hamming radius as Sim32 (complete through hamming 3) but
    * unrelated-pair band collisions fall 2^-16 instead of 2^-8 — the
    * candidate join's collision mass drops 256× per band, which is the
    * corpus-size response that keeps blocking subquadratic. Because word 1
    * IS the Sim32 fingerprint, a pair within hamming h of the 64-bit
    * fingerprint is within h of the 32-bit one: Sim64 pairs ⊆ Sim32 pairs.
    */
  val Sim64: SimGeometry = SimGeometry(64, 4, Seq(GA, GA2), Seq(GB, GB2))

  /** The radius lever instead: 64-bit fingerprint, 8 byte-bands —
    * pigeonhole-complete through hamming 7 for recall-leaning dedup.
    */
  val Sim64Radius: SimGeometry = SimGeometry(64, 8, Seq(GA, GA2), Seq(GB, GB2))

  /** Band keys of a word-array SimHash fingerprint. Band count is a
    * plan-time constant, so the struct array is built Scala-side — each
    * key extraction is a literal-divisor floor-div (exact in doubles:
    * words < 2^32 < 2^53) that codegens to straight-line arithmetic.
    */
  def simWordBands(sim: Column, geom: SimGeometry): Column =
    array((0 until geom.bands).map { t =>
      val word = element_at(sim, t / geom.bandsPerWord + 1)
      val div = (1L << ((t % geom.bandsPerWord) * geom.width)).toDouble
      val mask = 1L << geom.width
      struct(lit(t).as("band"),
        (floor(word.cast("double") / lit(div)).cast("long") % mask).as("key"))
    }: _*)

  /** Hamming distance between two word-array fingerprints. */
  def hammingWords(a: Column, b: Column, words: Int): Column =
    (1 to words).map(w =>
      bit_count(element_at(a, w).bitwiseXOR(element_at(b, w)))).reduce(_ + _)

  // ---- Random-hyperplane LSH for embeddings --------------------------------

  /** Plane count and banding (BandsRp * RowsRp = Planes). Plane
    * coefficients come from a multiplicative LCG on the flat index
    * `s = p*dim + i`, mapped to [-0.5, 0.5) — deterministic and stateless,
    * so executors regenerate them for free (nothing is broadcast).
    */
  val Planes: Int = 16
  val BandsRp: Int = 4
  val RowsRp: Int = 4
  val Dim: Int = 64

  /** The plane coefficient for flat index `s`, computed on the JVM with
    * the exact arithmetic the oracle SQL states: integer LCG, exact
    * int→double conversion, exact division by 2^32.
    */
  private def lcgVal(s: Long): Double =
    ((s * 2654435761L) % TwoPow32).toDouble / 4294967296.0 - 0.5

  /** The hyperplane matrix as plan-time literals — regenerated from the
    * LCG at plan build, so nothing is broadcast and every executor codegen
    * sees constants.
    */
  private def planeVecs(planes: Int): Seq[Seq[Double]] =
    (0 until planes).map(p => (1 to Dim).map(i => lcgVal(p.toLong * Dim + i)))

  /** Sign bits of the embedding against each hyperplane (array of 0/1).
    * Each plane dot is a codegen'd VecDot against a literal coefficient
    * array — the whole signature stays inside whole-stage codegen.
    *
    * `planes` sizes the signature: band-key width must GROW with corpus
    * size (collision rate per b-bit band is ~2^-b on unrelated vectors, so
    * candidates are ~n²·bands/2^b — keep 2^b ≳ n/rows-per-bucket). The
    * default is tuned to the small oracle corpus; a 100 TB run wants
    * e.g. 64 planes = 4 bands × 16 bits.
    */
  def planeBits(emb: Column, planes: Int = Planes): Column = {
    val vecs = planeVecs(planes) // one LCG pass, not one per plane
    array((0 until planes).map { p =>
      val d = graft.plans.VectorExprs.dot(typedLit(vecs(p)), emb)
      when(d >= 0, lit(1L)).otherwise(lit(0L))
    }: _*)
  }

  /** Band codes over the sign bits (binary fold of each `rows`-bit slice). */
  def planeBandKeys(bits: Column, bands: Int = BandsRp, rows: Int = RowsRp): Column =
    transform(sequence(lit(0), lit(bands - 1)), t =>
      struct(
        t.as("band"),
        aggregate(slice(bits, t * lit(rows) + 1, lit(rows)),
          lit(0L), (acc, v) => acc * 2 + v).as("key")))

  /** Multiprobe band keys: each band's base code plus its single-bit
    * perturbations. Query-side only — a vector whose true neighbors sit
    * just across one hyperplane still finds them, at the bounded cost of
    * (1 + RowsRp)x probe rows per query instead of rescanning the corpus.
    */
  def planeBandProbeKeys(bits: Column): Column =
    flatten(transform(sequence(lit(0), lit(BandsRp - 1)), t => {
      val key = aggregate(slice(bits, t * lit(RowsRp) + 1, lit(RowsRp)),
        lit(0L), (acc, v) => acc * 2 + v)
      val masks = lit(0L) +: (0 until RowsRp).map(j => lit(1L << j))
      array(masks.map(m => struct(t.as("band"), key.bitwiseXOR(m).as("key"))): _*)
    }))
}
