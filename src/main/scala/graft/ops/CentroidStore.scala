package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Literal, UnsafeArrayData, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftshim.SparkShims
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType, StructField, StructType}

import graft.functions.{VectorLoop, array_cosine_distance}

/** The centroid machinery every bucketed vector store shares — the IVF
  * store ([[AnnIndex]]), the IVF-PQ code table that follows it
  * ([[ProductQuantizer]]) and the graph store's member assignment
  * ([[GraphAnn]]): the stride centroids, the one nearest-centroid rule, the
  * assignment kernel, and a store that describes itself ([[Store]]: its
  * centroid table, geometry and bucket schema live beside its buckets).
  */
private[graft] object CentroidStore {

  /** Every row whose id divides by `stride`, as a centroid `(__cid, __cvec)`. */
  def centroidsOf(df: DataFrame, idCol: String, vecCol: String,
      stride: Int): DataFrame =
    df.where(pmod(col(idCol), lit(stride)) === 0)
      .select(col(idCol).cast("long").as("__cid"), col(vecCol).as("__cvec"))

  private def nullBearing(v: Column): Column = v.isNull || exists(v, _.isNull)

  /** The assignment rule over candidate `ids`/`vecs` arrays: the centroid
    * minimizing `struct(d, cid)` with Spark's struct ordering, `d` the
    * cosine distance. A NULL `d` ranks FIRST there, so a vector that is
    * NULL or holds a NULL element (every `d` NULL) files under the lowest
    * id `minAll`, and otherwise a centroid whose own vector carries a NULL
    * takes every row (`nullMin`, the lowest such id); NaN ranks after every
    * number, so an all-NaN row also files under `minAll`. `cosine_argmin`
    * covers the all-numbers case and is NULL in exactly the others.
    */
  private def nearest(v: Column, ids: Column, vecs: Column, minAll: Column,
      nullMin: Column): Column =
    coalesce(graft.functions.cosine_argmin(v, ids, vecs),
      when(nullBearing(v), minAll).otherwise(coalesce(nullMin, minAll)))

  /** A centroid frame `(__cid, __cvec)` as candidate rows — one per `key`
    * group, or one row of every centroid without a key: `__m`, the
    * index-aligned `(c, v)` structs (one `collect_list`, so a NULL vector
    * keeps its slot), with `__minall` and `__nullmin` for [[nearestIn]].
    */
  def candidates(cents: DataFrame, key: String*): DataFrame = {
    val cid = col("__cid").cast("long")
    val m = collect_list(struct(cid.as("c"), col("__cvec").as("v"))).as("__m")
    val aggs = Seq(min(cid).as("__minall"), min(when(nullBearing(col("__cvec")), cid)).as("__nullmin"))
    if (key.isEmpty) cents.agg(m, aggs: _*) else cents.groupBy(key.map(col): _*).agg(m, aggs: _*)
  }

  /** [[nearest]] for `v` over the [[candidates]] row beside it. */
  def nearestIn(v: Column): Column =
    nearest(v, col("__m.c"), col("__m.v"), col("__minall"), col("__nullmin"))

  /** `df`'s `(id, vec)` rows with their bucket `__centroid` — the one
    * assignment kernel, with no shuffle of its own. One row per input row.
    * Its per-row parallelism must not inherit a narrow input's file layout
    * (the r18 100× rung filed a 200k-vector delete spool in one task):
    * [[graft.util.Partitions.widenNarrowScan]].
    */
  def assignedTo(df: DataFrame, idCol: String, vecCol: String,
      cents: Centroids): DataFrame = {
    val (in, c) = cents.assigning(
      graft.util.Partitions.widenNarrowScan(df.select(col(idCol), col(vecCol))), col(vecCol))
    in.select(col(idCol), col(vecCol), c.as("__centroid"))
  }

  /** The `nprobe` centroids of `cents` nearest the query, `(__probe_cid)`,
    * ranked `(d asc_nulls_last, cid asc)`.
    */
  def ranked(cents: DataFrame, qvec: Array[Double], nprobe: Int): DataFrame =
    cents
      .select(col("__cid"), array_cosine_distance(col("__cvec"), typedLit(qvec.toSeq)).as("__d"))
      .orderBy(col("__d").asc_nulls_last, col("__cid").asc)
      .limit(nprobe)
      .select(col("__cid").as("__probe_cid"))

  /** A centroid table `(__cid, __cvec)` as a frame, with its driver copy
    * when one is held: ids and double vectors index-aligned, NULL for a
    * vector that is NULL or holds a NULL element (its distance is NULL
    * either way).
    */
  final class Centroids(frameOf: () => DataFrame,
      held: Option[(Array[Long], Array[Array[Double]])]) extends Serializable {

    @transient lazy val frame: DataFrame = frameOf()

    /** The centroids whose id divides by `stride` (a graph store's
      * super-centroids), held when these are.
      */
    def every(stride: Int): Centroids =
      new Centroids(() => frame.where(pmod(col("__cid"), lit(stride)) === 0),
        held.map { case (ids, vecs) =>
          val keep = ids.indices.filter(ids(_) % stride == 0)
          (keep.map(ids).toArray, keep.map(vecs).toArray)
        })

    /** The `n` ids nearest `q`. Held: on the driver, in the distributed
      * ranking's order — `(d asc_nulls_last, cid asc)`, NaN after every
      * number and -0.0 equal to 0.0, as Spark sorts — with `d` from
      * [[VectorLoop]], as `array_cosine_distance`. Otherwise one
      * distributed top-`n` job.
      */
    def ranked(q: Array[Double], n: Int): Seq[Long] = held match {
      case None => CentroidStore.ranked(frame, q, n).collect().map(_.getLong(0)).toSeq
      case Some((ids, vecs)) =>
        ids.indices.map { i =>
          val d = if (vecs(i) == null) Double.NaN else VectorLoop.cosine(vecs(i), q)
          ((if (vecs(i) == null) 2 else if (d.isNaN) 1 else 0, if (d.isNaN) 0.0 else d + 0.0),
            ids(i))
        }.sorted(Ordering.Tuple2(Ordering.Tuple2(Ordering.Int, Ordering.Double.TotalOrdering),
          Ordering.Long)).take(n).map(_._2)
    }

    /** `rows` with the candidate row to assign against, and the
      * [[nearest]] column for `v`. A held table is that row as two compact
      * literals (`UnsafeArrayData`: one buffer each, printed without its
      * elements), so the tasks get it with the plan and no job broadcasts
      * it; otherwise the frame is aggregated into one row and broadcast.
      */
    def assigning(rows: DataFrame, v: Column): (DataFrame, Column) = held match {
      case Some((ids, vecs)) =>
        val nullMin = ids.indices.filter(vecs(_) == null).map(ids(_)).minOption
        val table = ArrayType(ArrayType(DoubleType))
        def literal(value: Any, t: DataType) = SparkShims.column(Literal(value, t))
        (rows, nearest(v, literal(UnsafeArrayData.fromPrimitiveArray(ids), ArrayType(LongType)),
          literal(UnsafeProjection.create(Array[DataType](table)).apply(InternalRow(
            new GenericArrayData(vecs.map[Any](x => if (x == null) null
              else UnsafeArrayData.fromPrimitiveArray(x))))).getArray(0).copy(), table),
          lit(ids.min), nullMin.fold(lit(null).cast(LongType))(lit(_))))
      case None => (rows.crossJoin(broadcast(candidates(frame))), nearestIn(v))
    }
  }

  /** A materialized store as its header describes it; `bytes` is the size
    * of its centroid table's files, and the table itself is read on first
    * use.
    */
  final class Store(@transient val spark: SparkSession, path: String,
      val schema: StructType, val bytes: Long, load: () => Centroids) extends Serializable {

    lazy val centroids: Centroids = load()

    /** The id column: the stored schema's first. */
    def idCol: String = schema.head.name

    /** Every live row (a full listing when executed), pending writes
      * included ([[IndexManifests.readLive]]).
      */
    def all: DataFrame = IndexManifests.readLive(spark, path, "__centroid", idCol, None, Some(schema))

    /** The live rows of the named buckets, listed from the manifest and
      * read with the stored schema: no schema inference, no listing job.
      */
    def buckets(ids: Seq[Long]): DataFrame =
      IndexManifests.readLive(spark, path, "__centroid", idCol, Some(ids), Some(schema))
  }

  /** A store's self-description lives in `_graft_ivf/` (the `_` hides it
    * from parquet reads): `header`, the lines `# graft-ivf 1`, one
    * `# <name> <n>` line per geometry integer (`stride`, then the graph
    * store's `degree` and `superStride`) and `# schema <json>`; and
    * `centroids/`, the centroid table as text written by Spark, one
    * `<cid>TAB<elements>` line per centroid in Java's round-trip decimal
    * form (`null` for a vector that is NULL or holds a NULL element). The
    * table has one reader, [[Store.parse]]: a store holds its result on the
    * driver when the table's files total at most
    * [[SizeRoute.IvfCentroidBytes]], and otherwise leaves the table to
    * Spark.
    */
  object Store {
    private val Dir = "_graft_ivf"

    /** Write `cents`'s table, then the header, and open the store. */
    def write(cents: DataFrame, geometry: Seq[(String, Int)], schema: StructType,
        vecCol: String, path: String): Store = {
      // one file: the driver route reads it whole, and Spark splits it
      cents.repartition(1).map { r =>
        val v = if (r.isNullAt(1)) null else r.getSeq[Any](1)
        s"${r.getLong(0)}\t${if (v == null || v.contains(null)) "null" else v.mkString(",")}"
      }(Encoders.STRING).write.text(s"$path/$Dir/centroids")
      IndexFiles.writeString(cents.sparkSession, s"$path/$Dir/header",
        ("# graft-ivf 1" +: geometry.map { case (k, n) => s"# $k $n" } :+
          s"# schema ${schema.json}").mkString("", "\n", "\n"))
      open(cents.sparkSession, path, vecCol, geometry, "materialized")
    }

    /** Centroid lines (`value`) as a `(__cid, __cvec)` frame. */
    def parse(lines: DataFrame, elem: DataType): DataFrame = {
      val parts = split(col("value"), "\t", 2)
      lines.select(parts(0).cast("long").as("__cid"),
        when(parts(1) =!= "null", split(parts(1), ",").cast(ArrayType(elem))).as("__cvec"))
    }

    /** The geometry and bucket schema a store's header names. */
    def header(spark: SparkSession, path: String): (Seq[(String, Int)], StructType) = {
      val dir = s"$path/$Dir"
      val lines = IndexFiles.readStringOpt(spark, s"$dir/header").getOrElse(
        throw new IllegalArgumentException(s"no centroid table at $dir: the store was " +
          "written before stores carried their centroids — re-materialize it"))
        .split("\n").toSeq
      require(lines.headOption.contains("# graft-ivf 1"), s"$dir/header is not a store header")
      val (schemaLine, geo) = lines.tail.partition(_.startsWith("# schema "))
      (geo.map(_.stripPrefix("# ").split(" ") match { case Array(k, n) => k -> n.toInt }),
        DataType.fromJson(schemaLine.head.stripPrefix("# schema ")).asInstanceOf[StructType])
    }

    /** Read the header and check its geometry against `geometry`; the
      * centroid table is held when within the bound: parsed from a local
      * relation, so collected with no job.
      */
    def open(spark: SparkSession, path: String, vecCol: String,
        geometry: Seq[(String, Int)], verb: String): Store = {
      val dir = s"$path/$Dir"
      val (stored, schema) = header(spark, path)
      def named(g: Seq[(String, Int)]) = g.map { case (k, n) => s"$k $n" }.mkString(", ")
      require(stored == geometry,
        s"store at $path was materialized with ${named(stored)}, $verb with ${named(geometry)}")
      val elem = schema(vecCol).dataType.asInstanceOf[ArrayType].elementType
      val fs = IndexFiles.fs(spark, dir)
      val files = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/centroids")).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
      val bytes = files.map(_.getLen).sum
      new Store(spark, path, schema, bytes, () =>
        if (bytes > SizeRoute(SizeRoute.IvfCentroidBytes))
          new Centroids(() => parse(spark.read.text(s"$dir/centroids"), elem), None)
        else {
          val lines = files.flatMap { f =>
            val in = fs.open(f.getPath)
            try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector finally in.close()
          }
          val rows = parse(spark.createDataset(lines)(Encoders.STRING).toDF("value"), elem).collect()
          val local = spark.createDataFrame(java.util.Arrays.asList(rows: _*),
            StructType(Seq(StructField("__cid", LongType), StructField("__cvec", ArrayType(elem)))))
          new Centroids(() => local, Some((rows.map(_.getLong(0)), rows.map(r =>
            if (r.isNullAt(1)) null
            else r.getSeq[Any](1).map(_.asInstanceOf[Number].doubleValue).toArray))))
        })
    }
  }
}
