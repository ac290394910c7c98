package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Columnar geometry kernel — the reference's NumPy linear algebra
  * (data_utils.py:59-137) re-expressed as Catalyst column expressions so
  * it stays inside whole-stage codegen and runs row-parallel across the
  * cluster (vs. the reference's per-file driver loop).
  *
  * All ops are pure `Column` combinators: no UDFs, no RDDs.
  */
object Geometry {

  /** 3x4 homogeneous transform with a constant matrix (row-major, 12
    * elems): (x,y,z,1) → (x',y',z'). Reference: `transform_point_cloud_
    * to_camera` (data_utils.py:59). Expression shape is fixed
    * (m0*x + m1*y + m2*z + m3, left-assoc) so oracle SQL can mirror it
    * bit-exactly. */
  def transform3x4(m: Seq[Double], x: Column, y: Column, z: Column): Seq[Column] = {
    require(m.length == 12, "3x4 matrix needs 12 elements")
    Seq(0, 1, 2).map { r =>
      lit(m(4 * r)) * x + lit(m(4 * r + 1)) * y + lit(m(4 * r + 2)) * z + lit(m(4 * r + 3))
    }
  }

  /** Same transform with per-row matrices carried in an array<double>
    * column (calibration joined per frame). 1-based element_at. */
  def transform3x4Col(m: Column, x: Column, y: Column, z: Column): Seq[Column] =
    Seq(0, 1, 2).map { r =>
      element_at(m, 4 * r + 1) * x + element_at(m, 4 * r + 2) * y +
        element_at(m, 4 * r + 3) * z + element_at(m, 4 * r + 4)
    }

  /** 3x3 transform (rectification matrix R0_rect, 9 elems row-major). */
  def transform3x3Col(m: Column, x: Column, y: Column, z: Column): Seq[Column] =
    Seq(0, 1, 2).map { r =>
      element_at(m, 3 * r + 1) * x + element_at(m, 3 * r + 2) * y +
        element_at(m, 3 * r + 3) * z
    }

  /** P2 image-plane projection (the projection matrix the reference
    * parses at data_utils.py:53): pixel (u, v) of a RECTIFIED
    * camera-frame point — [u·w, v·w, w] = P2_3x4 · (x, y, z, 1),
    * divide by the depth w. Returns (u, v, depth); points behind the
    * image plane (depth ≤ 0) project to garbage — filter with
    * `inImage`, which requires depth > 0. */
  def projectToImage(p2: Column, x: Column, y: Column, z: Column): Seq[Column] = {
    val Seq(uh, vh, w) = transform3x4Col(p2, x, y, z)
    Seq(uh / w, vh / w, w)
  }

  /** Visibility predicate for `projectToImage` output: inside a
    * width × height image and in front of the camera. */
  def inImage(u: Column, v: Column, depth: Column,
              width: Double, height: Double): Column =
    depth > 0 && u >= 0 && u < width && v >= 0 && v < height

  /** The reference's fixed X-axis rotation / axis remap
    * (data_utils.py:95): camera coords → (x=length, y=width, z=up):
    * (x,y,z) → (x, z, -y). The `+ 0.0` normalizes IEEE `-0.0` (unary
    * negation of an exact zero) to `+0.0` so byte-level result hashes
    * can't diverge between engines; it is a bit-exact no-op for every
    * nonzero value. Oracle SQL mirrors it. */
  def rotateX90(x: Column, y: Column, z: Column): Seq[Column] =
    Seq(x, z, -y + lit(0.0))

  /** Unit-box corner offsets in KITTI label convention: sx scales
    * length, sy scales height (0 or -1: box sits on its origin),
    * sz scales width. Order matches data_utils.py:117-119. */
  private val cornerOffsets: Seq[(Int, Double, Double, Double)] = Seq(
    (0, -0.5, 0.0, -0.5), (1, 0.5, 0.0, -0.5), (2, 0.5, 0.0, 0.5), (3, -0.5, 0.0, 0.5),
    (4, -0.5, -1.0, -0.5), (5, 0.5, -1.0, -0.5), (6, 0.5, -1.0, 0.5), (7, -0.5, -1.0, 0.5))

  /** One corner of a KITTI 3D box from its unit-box offset: Y-axis
    * rotation of the scaled offsets, translate, then the axis remap
    * (fx, fz, -fy); + 0.0 normalizes -0.0 (see rotateX90). */
  private def corner(sx: Double, sy: Double, sz: Double,
                     h: Column, w: Column, l: Column,
                     x: Column, y: Column, z: Column,
                     ry: Column): (Column, Column, Column) = {
    val fx = cos(ry) * (lit(sx) * l) + sin(ry) * (lit(sz) * w) + x
    val fy = lit(sy) * h + y
    val fz = -sin(ry) * (lit(sx) * l) + cos(ry) * (lit(sz) * w) + z
    (fx, fz, -fy + lit(0.0))
  }

  /** 8 corners of a KITTI 3D box (dims h,w,l; location x,y,z; yaw
    * rotation_y), already axis-remapped by rotateX90 — mirrors
    * `get_3d_bbox` (data_utils.py:111). Returns array<struct<i,cx,cy,cz>>;
    * explode with `inline()`. */
  def bbox3dCorners(h: Column, w: Column, l: Column,
                    x: Column, y: Column, z: Column, ry: Column): Column =
    array(cornerOffsets.map { case (i, sx, sy, sz) =>
      val (cx, cy, cz) = corner(sx, sy, sz, h, w, l, x, y, z, ry)
      struct(lit(i).as("i"), cx.as("cx"), cy.as("cy"), cz.as("cz"))
    }: _*)

  /** The 12 edges of a 3D box as (start,end) corner-index pairs —
    * the data prep behind visualize.py:85-89. */
  val bboxEdges: Seq[(Int, Int)] = Seq(
    (0, 1), (1, 2), (2, 3), (3, 0),
    (4, 5), (5, 6), (6, 7), (7, 4),
    (0, 4), (1, 5), (2, 6), (3, 7))

  /** The 12 box edges as line segments: array<struct<edge_id, x1..z2>>
    * — the data prep behind the reference's wireframe rendering
    * (visualize.py:85-98). Each endpoint is built from its own corner
    * offset: indexing a [[bbox3dCorners]] array per field would embed
    * 72 copies of every corner's trig tree in one projection. */
  def bboxEdgeSegments(h: Column, w: Column, l: Column,
                       x: Column, y: Column, z: Column, ry: Column): Column = {
    def at(i: Int) = {
      val (_, sx, sy, sz) = cornerOffsets(i)
      corner(sx, sy, sz, h, w, l, x, y, z, ry)
    }
    array(bboxEdges.zipWithIndex.map { case ((s, e), id) =>
      val (x1, y1, z1) = at(s); val (x2, y2, z2) = at(e)
      struct(lit(id).as("edge_id"), x1.as("x1"), y1.as("y1"), z1.as("z1"),
        x2.as("x2"), y2.as("y2"), z2.as("z2"))
    }: _*)
  }

  /** Rectangle corners for an axis-aligned plane spanned by two
    * opposite corners, optionally flattened to a fixed z — the area
    * overlay prep in visualize.py:23-46. Returns the 4 corners in
    * render order (c1, c3, c2, c4). */
  def planeCorners(c1: (Double, Double, Double), c2: (Double, Double, Double),
                   zFixed: Option[Double] = None): Seq[(Double, Double, Double)] = {
    val z1 = zFixed.getOrElse(c1._3); val z2 = zFixed.getOrElse(c2._3)
    Seq((c1._1, c1._2, z1), (c2._1, c1._2, z1), (c2._1, c2._2, z2), (c1._1, c2._2, z2))
  }

  /** Z-order (Morton) clustering key: quantize each coordinate to
    * `bits` bits over its [lo, hi] range and interleave the bits
    * (bit i of dimension d lands at position i·D + d). Sorting or
    * range-partitioning spatial data by this key co-locates spatial
    * neighbors in the same files/row-groups, so parquet min/max
    * pruning turns a 3D box filter into file skipping — the layout
    * lever for 100 TB pointcloud corpora (cf. Delta OPTIMIZE ZORDER).
    * Pure integer column arithmetic, mirrored exactly by the SQL
    * oracle (k7_zorder_cluster). Out-of-range values clamp. */
  def zorderKey(dims: Seq[(Column, Double, Double)], bits: Int): Column = {
    require(bits >= 1 && bits * dims.size <= 62,
      s"bits*dims must fit a long, got $bits*${dims.size}")
    val maxQ = (1L << bits) - 1
    val qs = dims.map { case (c, lo, hi) =>
      least(lit(maxQ), greatest(lit(0L),
        floor((c - lit(lo)) / lit(hi - lo) * lit(1L << bits)).cast("long")))
    }
    val d = dims.size
    val terms = for { i <- 0 until bits; j <- 0 until d } yield
      shiftright(qs(j), i).bitwiseAND(lit(1L)) * lit(1L << (i * d + j))
    terms.reduce(_ + _)
  }

  /** Strict-inequality box containment mask (data_pipeline.py:77). */
  def inBox(x: Column, y: Column, z: Column,
            min: (Double, Double, Double), max: (Double, Double, Double)): Column =
    x > min._1 && y > min._2 && z > min._3 &&
      x < max._1 && y < max._2 && z < max._3
}
