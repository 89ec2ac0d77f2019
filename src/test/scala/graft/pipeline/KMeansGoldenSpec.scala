package graft.pipeline

import graft.SparkTestBase

/** Pins the trained IVF centroids and PQ codebooks bit for bit. The
  * trainers are called directly on an in-test corpus, never through
  * `Queries.loadOrTrain`, whose artifacts are keyed by the data alone and
  * would hide a changed trainer. Each case hashes every centroid value's
  * `doubleToLongBits`, in (codebook, centroid, dimension) order, with
  * SHA-256. A change to the trainers that moves any bit of any centroid
  * fails here; the digests change only with an intended change of training.
  */
class KMeansGoldenSpec extends SparkTestBase {

  import spark.implicits._

  // 4-dim points on the lattice {-1, 0, 1}: 48 rows holding exact
  // duplicates, the zero vector, and points equidistant from two others
  // (in d² and in cosine, e.g. (1,1,0,0) from (1,0,0,0) and (0,1,0,0)).
  // Ties and zero misfits are frequent on a lattice, so the lowest-index
  // tie rule and the empty-cell reseed both decide centroids here.
  private def corpus = {
    val rnd = new scala.util.Random(2012L)
    val drawn = Seq.fill(36)(Seq.fill(4)((rnd.nextInt(3) - 1).toFloat))
    val planted = Seq(Seq(0f, 0f, 0f, 0f), Seq(1f, 0f, 0f, 0f), Seq(0f, 1f, 0f, 0f),
      Seq(1f, 1f, 0f, 0f), Seq(1f, 1f, 0f, 0f), Seq(0f, 0f, 0f, 0f))
    (drawn ++ planted ++ drawn.take(6)).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("vec_id", "embedding")
  }

  private def distinct = corpus.select("embedding").distinct().count()

  private def digest(values: Iterator[Double]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(8)
    values.foreach { x =>
      buf.clear(); buf.putLong(java.lang.Double.doubleToLongBits(x)); md.update(buf.array())
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def centroidsDigest(cents: Array[(Long, Array[Double])]): String = {
    assert(cents.map(_._1).toSeq == cents.indices.map(_.toLong))
    digest(cents.iterator.flatMap(_._2.iterator))
  }

  private def booksDigest(books: PQ.Codebooks): String =
    digest(books.iterator.flatMap(_.iterator.flatMap(_.iterator)))

  test("the corpus has more rows than distinct points, and the zero vector") {
    assert(corpus.count() == 48 && distinct < 40)
    assert(corpus.filter(_.getSeq[Float](1).forall(_ == 0f)).count() >= 2)
  }

  test("ivfCentroids, sampled: more cells than distinct points, and few cells") {
    val many = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nCells = 44,
      sampleSize = Some(44))
    val few = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nCells = 5,
      sampleSize = Some(40))
    assert(many.length == 44 && few.length == 5)
    assert(Seq(centroidsDigest(many), centroidsDigest(few)) == Seq(
      "876c429c473c4da7d4481bbbb38ba3e165396e6826c360363b35d6fef3078fb5",
      "ee30b180c4518f16354448fc64f59199f45418dd8cf1eb3cd92e82c3e5dda63e"))
  }

  test("ivfCentroids, k-means‖ coreset") {
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nCells = 6,
      sampleSize = None, oversample = 3, rounds = 3)
    assert(cents.length == 6)
    assert(centroidsDigest(cents) ==
      "32ad3d5e27df1197816eaab881c1d6f885755aab394ddff33adad048ed6846dd")
  }

  test("pqCodebooks, sampled: more centroids than distinct subvectors, and few") {
    val many = PQ.pqCodebooks(corpus, "vec_id", "embedding", nSubq = 2, nCentroids = 12,
      sampleSize = Some(44))
    val few = PQ.pqCodebooks(corpus, "vec_id", "embedding", nSubq = 2, nCentroids = 4,
      sampleSize = Some(40))
    assert(many.map(_.length).toSeq == Seq(12, 12) && few.map(_.length).toSeq == Seq(4, 4))
    assert(Seq(booksDigest(many), booksDigest(few)) == Seq(
      "f8b9cd9b2c4fea30d7e3297a39be72d0b82188bcaba0c1b20eecc45c14e90bf1",
      "223af8f4e1056f93df1a05b1a4a9e0b2d05c843efdfc88c598b017dfc7c86987"))
  }

  test("pqCodebooks, k-means‖ coreset per subspace") {
    val books = PQ.pqCodebooks(corpus, "vec_id", "embedding", nSubq = 2, nCentroids = 4,
      sampleSize = None, oversample = 2, rounds = 3)
    assert(booksDigest(books) ==
      "694ed25e4c8d4810ddec5e779a4d4640899092222de85c40a454b97af93549d7")
  }

  test("residualCodebooks") {
    val cents = Similarity.ivfCentroids(corpus, "vec_id", "embedding", nCells = 3)
    val books = PQ.residualCodebooks(corpus, "vec_id", "embedding", cents, nSubq = 2,
      nCentroids = 4)
    assert(booksDigest(books) ==
      "d69ba4c675e290d3b3d1c365638ecf1972e602ac5aed7089dd43d924a87ee3e2")
  }
}
