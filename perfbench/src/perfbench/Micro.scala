package perfbench

import graft.codec.FeatureCodec
import graft.curve.{Cells, Hilbert}
import graft.expr.Adapters
import graft.geom.{Envelope, PointInPolygon, Wkb}
import graft.index.PackedRTree
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Plain `System.nanoTime` loops over the engine's per-row cores, fed
  * with inputs drawn from the workload generators. Each figure is the
  * median of several timed passes after one warm-up pass.
  */
object Micro {
  @volatile private var sink = 0L

  /** Median seconds of one pass of `body` over `n` items. */
  private def passes(n: Int, reps: Int = 7)(body: Int => Long): Double = {
    var acc = 0L
    var i = 0
    while (i < n) { acc += body(i); i += 1 } // warm-up
    val ts = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      var j = 0
      while (j < n) { acc += body(j); j += 1 }
      (System.nanoTime() - t0) / 1e9
    }
    sink += acc
    ts.sorted.apply(reps / 2)
  }

  private def nsPer(n: Int)(body: Int => Long): Double = passes(n)(body) * 1e9 / n

  def run(seed: Long): Map[String, Double] = {
    val pts = Gen.points(seed, 100000)
    val n = pts.size
    val ext = Envelope(-1800000000, -900000000, 1800000000, 900000000)
    val counties = Gen.counties(seed)
    val cWkb = Array.tabulate(counties.size)(counties.wkb)
    val cGeom = cWkb.map(Wkb.read)
    val cEnv = Array.tabulate(counties.size) { k =>
      val (a, b, c, d) = counties.envelope(k); Envelope(a, b, c, d)
    }
    val ptWkb = Array.tabulate(n)(i => Gen.pointWkb(pts.lng(i), pts.lat(i)))
    val cell = Gen.HotSpan / Gen.CountyGrid
    // a hot-cluster point paired with the county of its grid cell
    val hot = (0 until n).filter { i =>
      pts.lng(i) >= Gen.HotMinLng && pts.lng(i) < Gen.HotMinLng + Gen.HotSpan &&
        pts.lat(i) >= Gen.HotMinLat && pts.lat(i) < Gen.HotMinLat + Gen.HotSpan
    }.toArray
    val hotCounty = hot.map { i =>
      math.min(Gen.CountyGrid - 1, (pts.lng(i) - Gen.HotMinLng) / cell) * Gen.CountyGrid +
        math.min(Gen.CountyGrid - 1, (pts.lat(i) - Gen.HotMinLat) / cell)
    }

    val out = Map.newBuilder[String, Double]

    out += "curve.hilbert_ns" -> nsPer(n)(i => Hilbert.scaled(pts.lng(i), pts.lat(i), ext))
    out += "curve.cell_ns" -> nsPer(n)(i => Cells.cellId(pts.lng(i), pts.lat(i), 6))
    out += "curve.cover_ns" -> nsPer(cEnv.length)(k => Cells.cover(cEnv(k), 9).length.toLong)

    out += "geom.wkb_read_ns" -> nsPer(cWkb.length)(k => Wkb.read(cWkb(k)).envelope.minLng.toLong)
    out += "geom.envelope_ns" -> nsPer(n)(i => Wkb.envelopeOf(ptWkb(i)).minLng.toLong)
    out += "geom.pip_ns" -> nsPer(hot.length) { j =>
      val i = hot(j)
      if (PointInPolygon.containsGeom(cGeom(hotCounty(j)), pts.lng(i), pts.lat(i))) 1L else 0L
    }

    // leaves in Hilbert-descending order of envelope centers, as the
    // engine's R-tree join builds them
    val cExt = cEnv.reduce(_ union _)
    val leaves = cEnv.indices.map(k => (cEnv(k), counties.ids(k),
      Hilbert.scaled(cEnv(k).centerLng, cEnv(k).centerLat, cExt)))
      .sortBy(-_._3).map { case (e, id, _) => (e, id, 0) }
    val buildS = passes(20)(_ => PackedRTree.build(leaves).length.toLong) / 20
    out += "index.rtree_build_ns_per_leaf" -> buildS * 1e9 / leaves.length
    val tree = new PackedRTree(leaves.length, PackedRTree.build(leaves))
    out += "index.rtree_query_ns" -> nsPer(hot.length) { j =>
      val i = hot(j); tree.hits(pts.lng(i), pts.lat(i), pts.lng(i), pts.lat(i)).length.toLong
    }

    val feats = Array.tabulate(n)(i => FeatureCodec.Feature(Wkb.Pt(pts.lng(i), pts.lat(i)),
      Vector("doc" -> FeatureCodec.PString(Gen.docId(i)))))
    val encoded = feats.map(FeatureCodec.encodeFeature)
    val mb = encoded.map(_.length.toLong).sum / 1e6
    out += "codec.feature_encode_mb_s" -> mb / passes(n)(i => FeatureCodec.encodeFeature(feats(i)).length.toLong)
    out += "codec.feature_decode_mb_s" -> mb / passes(n)(i => FeatureCodec.decodeFeature(encoded(i)).props.size.toLong)
    out += "codec.feature_decode_geom_only_mb_s" -> mb / passes(n) { i =>
      FeatureCodec.decodeFeatureGeomOnly(new FeatureCodec.R(encoded(i)), encoded(i).length).props.size.toLong
    }

    val spans = Array.tabulate(n) { i =>
      def s(kind: String, text: String, media: String, off: Int): InternalRow = new GenericInternalRow(
        Array[Any](UTF8String.fromString(kind), UTF8String.fromString(text), UTF8String.fromString(media), off))
      new GenericArrayData(Array[Any](
        s("text", s"synthetic doc body $i", "", 0), s("media", "", s"media://bench/$i", 1),
        s("geom", "", Gen.hex(ptWkb(i)), 2)))
    }
    out += "expr.span_feature_ns" -> nsPer(n)(i => Adapters.spanFeature(spans(i)).getInt(1).toLong)
    out.result()
  }

  /** Fixed single-thread pure-JVM burn (string allocation plus curve
    * math); its time flags a degraded host window, it measures no engine code.
    */
  def burn(): Double = {
    val t0 = System.nanoTime()
    var acc = 0L
    var i = 0L
    while (i < 6000000L) {
      acc += java.lang.Long.toHexString(i * 0x9E3779B97F4A7C15L | 1L).length
      acc += ((i * 48271) ^ (acc << 7)) & 0xFFFF
      i += 1
    }
    sink += acc
    (System.nanoTime() - t0) / 1e9
  }
}
