package graft.pipelines

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, DataFrameReader}
import org.apache.spark.sql.functions._

/** Filename-derived metadata helpers shared by the file pipelines. */
object PathMeta {

  /** `input_file_name()` returns the URL-ENCODED URI of the split's
    * file — a directory `GTEX 123.svs` arrives as `GTEX%20123.svs`.
    * Keys and paths derived from the raw value silently miss lookup
    * joins (the JSON lookups carry decoded names) and land output in
    * differently-named directories. This column percent-decodes it.
    *
    * `url_decode` is FORM decoding ('+' → space), but URI encoding
    * leaves a literal '+' in path segments unencoded — protect it as
    * %2B first so it round-trips. */
  private def decodedInputFileName(): Column =
    url_decode(regexp_replace(input_file_name(), "\\+", "%2B"))

  /** Loads the files named `nameGlob` that sit directly in the
    * directories `dirs` (a glob) matches — the files the file-level
    * glob `dirs/nameGlob` reads — with their decoded URI as `path`.
    *
    * The directories, not the files, are Spark's root paths. Spark
    * lists up to `parallelPartitionDiscovery.threshold` (32) roots on
    * the driver and above it starts one listing task per root, so a
    * glob that ends at files costs one task per file once a tree has
    * more than 32; over directories it is one task per directory.
    * `pathGlobFilter` does the name match. A root's subdirectories
    * are listed too, which the file-level glob never reached:
    * `recursiveFileLookup` keeps partition inference off (a `k=v`
    * subdirectory would otherwise add a column), and the depth filter
    * drops every file not directly in a root. Every root has the
    * depth of `dirs`, since no glob segment spans a '/'. */
  def filesIn(reader: DataFrameReader, dirs: String, nameGlob: String)
    : DataFrame = {
    val df = reader.option("pathGlobFilter", nameGlob)
      .option("recursiveFileLookup", true).load(dirs)
    val root = new Path(dirs)
    val depth = root.getFileSystem(df.sparkSession.sessionState
      .newHadoopConf()).makeQualified(root).depth() + 1
    df.withColumn("path", decodedInputFileName())
      .filter(pathDepth(col("path")) === depth)
  }

  /** Hadoop's `Path.depth` of a URI string: the '/'s after
    * `scheme://authority`. */
  private def pathDepth(uri: Column): Column = {
    val p = regexp_replace(uri, "^[A-Za-z][A-Za-z0-9+.-]*:(//[^/]*)?", "")
    length(p) - length(regexp_replace(p, "/", ""))
  }
}
