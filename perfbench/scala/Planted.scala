package graft.perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.util.SplittableRandom

/** Degree-corrected planted-partition graph (a stochastic block model
  * whose vertices carry a heavy-tailed degree propensity), with
  * categorical vertex features that agree with the vertex's block more
  * often than chance.
  *
  * Everything is drawn from one `SplittableRandom(seed)`, in a fixed
  * order, so a seed always yields the same graph. Vertex ids are
  * `0 until vertices` (non-negative longs, as `Betweenness` requires);
  * the block of vertex `i` is `block(i)`, kept as the ground truth for
  * the NMI of the final communities.
  */
object Planted {

  final case class Spec(
      vertices: Int,
      blocks: Int,
      avgDegree: Double,
      // Share of edge draws whose second endpoint ignores the block.
      mixing: Double,
      features: Int,
      valuesPerFeature: Int,
      // Chance that a feature takes a uniform value instead of its block's.
      featureNoise: Double,
      // Pareto exponent of the degree propensity (larger = flatter), and
      // its cap (the propensity starts at 1).
      degreeExponent: Double,
      maxPropensity: Double)

  final case class Graph(block: Array[Int], features: Array[Array[Int]],
      src: Array[Long], dst: Array[Long]) {
    def edges: Int = src.length
  }

  def generate(spec: Spec, seed: Long): Graph = {
    import spec._
    val rnd = new SplittableRandom(seed)
    val block = Array.tabulate(vertices)(_ => rnd.nextInt(blocks))
    val theta = Array.tabulate(vertices) { _ =>
      math.min(maxPropensity, math.pow(1.0 - rnd.nextDouble(), -1.0 / (degreeExponent - 1.0)))
    }
    // Cumulative propensities, globally and per block, for inverse-CDF draws.
    val members = Array.tabulate(blocks)(b => (0 until vertices).filter(block(_) == b).toArray)
    def cumulative(ids: Array[Int]): Array[Double] =
      ids.map(theta(_)).scanLeft(0.0)(_ + _).tail
    val allIds = Array.range(0, vertices)
    val allCum = cumulative(allIds)
    val blockCum = members.map(cumulative)
    def draw(ids: Array[Int], cum: Array[Double]): Int = {
      val x = rnd.nextDouble() * cum.last
      val i = java.util.Arrays.binarySearch(cum, x)
      ids(math.min(if (i >= 0) i else -i - 1, ids.length - 1))
    }

    val target = (vertices * avgDegree / 2).toLong
    val seen = new java.util.HashSet[java.lang.Long]()
    val src = Array.newBuilder[Long]
    val dst = Array.newBuilder[Long]
    var draws = 0L
    while (seen.size < target && draws < target * 20) {
      draws += 1
      val a = draw(allIds, allCum)
      val b =
        if (rnd.nextDouble() < mixing || members(block(a)).length < 2) draw(allIds, allCum)
        else draw(members(block(a)), blockCum(block(a)))
      if (a != b) {
        val (lo, hi) = (math.min(a, b).toLong, math.max(a, b).toLong)
        if (seen.add(lo * vertices + hi)) { src += lo; dst += hi }
      }
    }
    val signature = Array.fill(blocks, features)(rnd.nextInt(valuesPerFeature))
    val feats = Array.tabulate(vertices) { i =>
      Array.tabulate(features) { f =>
        if (rnd.nextDouble() < featureNoise) rnd.nextInt(valuesPerFeature)
        else signature(block(i))(f)
      }
    }
    Graph(block, feats, src.result(), dst.result())
  }

  def featureNames(spec: Spec): Seq[String] = (1 to spec.features).map(f => s"f$f")

  /** `nodes.csv` (`id,f1..fk`) and `edges.csv` (`src,dst`), with headers. */
  def writeCsv(g: Graph, spec: Spec, dir: File): Unit = {
    dir.mkdirs()
    def write(name: String)(body: BufferedWriter => Unit): Unit = {
      val w = new BufferedWriter(new FileWriter(new File(dir, name)), 1 << 16)
      try body(w) finally w.close()
    }
    write("nodes.csv") { w =>
      w.write(("id" +: featureNames(spec)).mkString(",")); w.newLine()
      g.features.indices.foreach { i =>
        w.write(i.toString)
        g.features(i).foreach { v => w.write(",v"); w.write(v.toString) }
        w.newLine()
      }
    }
    write("edges.csv") { w =>
      w.write("src,dst"); w.newLine()
      g.src.indices.foreach { i =>
        w.write(g.src(i).toString); w.write(","); w.write(g.dst(i).toString); w.newLine()
      }
    }
  }
}
