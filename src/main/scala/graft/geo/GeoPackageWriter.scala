package graft.geo

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types._
import scala.collection.mutable.ArrayBuffer

/** S7 write half: emit a GeoPackage (OGC 12-128r18) — i.e. a SQLite 3
  * database file (sqlite.org/fileformat2) — from a DataFrame, the
  * inverse of [[GeoPackage.read]]. The reference writes habitat-map
  * layers with `st_write(..., driver = "GPKG")`
  * (`/root/reference/src/export_from_vbidwh/check_observed_habitat_type.Rmd:381`);
  * here the same contract is a self-contained writer: no GDAL, no
  * SQLite library — the file is assembled page by page.
  *
  * What it writes: the three mandatory metadata tables
  * (`gpkg_spatial_ref_sys`, `gpkg_contents`, `gpkg_geometry_columns`)
  * plus one feature table whose geometry column holds standard WKB
  * wrapped in the GPKG binary header. Table b-trees are built
  * bottom-up with real interior pages and overflow chains, so row
  * count and blob size are unbounded — not just single-page toys.
  *
  * Scale stance (same as the reader): GeoPackage is the reference's
  * interchange format for *dimension* layers — small, read/written
  * once, driver-side. Fact-scale geometry stays in WKB-in-parquet;
  * this exists so a reference user can round-trip their `.gpkg`
  * deliverables without GDAL.
  */
object GeoPackageWriter {

  private val PageSize = 4096
  private val Usable = PageSize // no reserved bytes

  /** Write `df` as feature table `table` at `path`. The `geomCol`
    * column must be standard WKB binary (as produced by
    * [[Wkb.encodePolygonRings]] / read by [[WkbToRings]]); every other
    * column must be integral, floating, string, or binary. Row order
    * is preserved (rowid 1..n in collect order — callers sort first
    * for deterministic files, mirroring `Vc`'s sorted-write rule).
    *
    * This is a DRIVER-SIDE sink (the file is one SQLite database, built
    * in memory): the frame is counted first and refused above `maxRows`
    * so a misdirected fact table fails loudly instead of OOMing the
    * driver. Dimension-layer exports are well under the default; raise
    * it deliberately if a bigger deliverable is really intended. */
  def write(path: String, table: String, df: DataFrame, geomCol: String,
            srid: Int = 31370, geometryType: String = "POLYGON",
            maxRows: Long = 1000000L): Unit = {
    val fields = df.schema.fields
    require(fields.exists(_.name == geomCol), s"no geometry column '$geomCol'")
    val n = df.count()
    require(n <= maxRows,
      s"GeoPackage export builds one SQLite page image on the driver: $n rows exceeds " +
        s"maxRows=$maxRows. Raise maxRows explicitly for a deliberate large export, or " +
        s"keep fact-scale geometry as WKB-in-parquet (the scale path).")

    val pages = new Pager
    // --- gpkg_spatial_ref_sys ---
    val srsRoot = pages.buildTable(
      Seq(
        Seq[Any]("Undefined cartesian SRS", -1L, "NONE", -1L, "undefined", null),
        Seq[Any]("Undefined geographic SRS", 0L, "NONE", 0L, "undefined", null),
        Seq[Any](s"EPSG:$srid", srid.toLong, "EPSG", srid.toLong, "undefined", null)))
    // --- gpkg_contents ---
    val contentsRoot = pages.buildTable(
      Seq(Seq[Any](table, "features", table, "", "2024-01-01T00:00:00.000Z",
        null, null, null, null, srid.toLong)))
    // --- gpkg_geometry_columns ---
    val geomColsRoot = pages.buildTable(
      Seq(Seq[Any](table, geomCol, geometryType, srid.toLong, 0L, 0L)))
    // --- the feature table: fid INTEGER PRIMARY KEY is a rowid alias,
    // stored as NULL in the record per the SQLite spec ---
    // Rows stream through toLocalIterator (one partition of Spark rows
    // resident at a time, in frame order so rowids stay deterministic);
    // peak driver memory is the SQLite page image (≈ file size) plus a
    // single partition, with `maxRows` the soft bound on the image.
    import scala.jdk.CollectionConverters._
    val featureRows = df.toLocalIterator().asScala.map { r =>
      null +: fields.toSeq.map { f =>
        val v = r.getAs[Any](f.name)
        if (v == null) null
        else if (f.name == geomCol)
          gpkgBlob(v.asInstanceOf[Array[Byte]], srid)
        else v match {
          case i: Int => i.toLong
          case s: Short => s.toLong
          case b: Byte => b.toLong
          case fl: Float => fl.toDouble
          case bo: Boolean => if (bo) 1L else 0L
          case other => other
        }
      }
    }
    val featureRoot = pages.buildTable(featureRows)

    // --- sqlite_master on page 1 ---
    def masterRow(name: String, root: Int, sql: String): Seq[Any] =
      Seq[Any]("table", name, name, root.toLong, sql)
    val featureCols = fields.map { f =>
      val t =
        if (f.name == geomCol) geometryType
        else f.dataType match {
          case LongType | IntegerType | ShortType | ByteType | BooleanType => "INTEGER"
          case DoubleType | FloatType => "REAL"
          case BinaryType => "BLOB"
          case _ => "TEXT"
        }
      s"${ident(f.name)} $t"
    }.mkString(", ")
    val master = Seq(
      // srs_id is INTEGER NOT NULL, not PRIMARY KEY: an INTEGER PRIMARY
      // KEY column is a rowid alias, and the mandatory srs rows include
      // ids -1 and 0 — storing them as explicit values avoids negative
      // rowids (which need 9-byte two's-complement varints this writer
      // doesn't emit)
      masterRow("gpkg_spatial_ref_sys", srsRoot,
        "CREATE TABLE gpkg_spatial_ref_sys (srs_name TEXT NOT NULL, srs_id INTEGER NOT NULL, organization TEXT NOT NULL, organization_coordsys_id INTEGER NOT NULL, definition TEXT NOT NULL, description TEXT)"),
      // no TEXT PRIMARY KEY / UNIQUE here: either would imply a
      // sqlite_autoindex b-tree this writer doesn't emit, and SQLite
      // treats a declared-but-missing index as corruption
      masterRow("gpkg_contents", contentsRoot,
        "CREATE TABLE gpkg_contents (table_name TEXT NOT NULL, data_type TEXT NOT NULL, identifier TEXT, description TEXT DEFAULT '', last_change TEXT NOT NULL, min_x REAL, min_y REAL, max_x REAL, max_y REAL, srs_id INTEGER)"),
      masterRow("gpkg_geometry_columns", geomColsRoot,
        "CREATE TABLE gpkg_geometry_columns (table_name TEXT NOT NULL, column_name TEXT NOT NULL, geometry_type_name TEXT NOT NULL, srs_id INTEGER NOT NULL, z TINYINT NOT NULL, m TINYINT NOT NULL)"),
      masterRow(table, featureRoot,
        s"CREATE TABLE ${ident(table)} (fid INTEGER PRIMARY KEY, $featureCols)"))
    pages.writeMasterAndSave(path, master)
  }

  /** Quote an identifier only when it isn't a plain [A-Za-z_]\w* name —
    * bare names keep the stored CREATE TABLE parseable by simple
    * readers (including [[GeoPackage.Sqlite.columnsOf]]). */
  private def ident(name: String): String =
    if (name.matches("[A-Za-z_][A-Za-z0-9_]*")) name
    else "\"" + name.replace("\"", "\"\"") + "\""

  /** Standard GeoPackageBinary header (OGC 12-128 §2.1.3): magic "GP",
    * version 0, flags = little-endian byte order, no envelope. */
  def gpkgBlob(wkb: Array[Byte], srid: Int): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + wkb.length).order(ByteOrder.LITTLE_ENDIAN)
    out.put('G'.toByte).put('P'.toByte).put(0.toByte).put(0x01.toByte)
    out.putInt(srid)
    out.put(wkb)
    out.array()
  }

  // ---- page-level assembly ----------------------------------------------

  /** Accumulates numbered pages; page 1 (header + sqlite_master) is
    * reserved and written last, once every root page is known. */
  private final class Pager {
    private val pages = ArrayBuffer.empty[Array[Byte]] // index i -> page i+2
    private def alloc(content: Array[Byte]): Int = {
      require(content.length == PageSize, "page must be exactly PageSize")
      pages += content
      pages.length + 1
    }

    /** Build a table b-tree for `rows` (rowids 1..n); returns root page.
      * Accepts a one-shot iterator so callers can stream rows in: only
      * the serialized cells (the file content itself) are held, not the
      * source rows. */
    def buildTable(rows: IterableOnce[Seq[Any]]): Int = {
      val cells = rows.iterator.zipWithIndex.map { case (vals, i) =>
        leafCell(i + 1L, record(vals))
      }.toVector
      buildLeafLevel(cells, pageOneUsable = false)
    }

    /** Leaf cell bytes for (rowid, payload), allocating overflow pages
      * for payloads over the inline maximum (spec §B-tree Pages). */
    private def leafCell(rowid: Long, payload: Array[Byte]): (Long, Array[Byte]) = {
      val x = Usable - 35
      if (payload.length <= x) {
        (rowid, varint(payload.length) ++ varint(rowid) ++ payload)
      } else {
        val m = (Usable - 12) * 32 / 255 - 23
        val k = m + (payload.length - m) % (Usable - 4)
        val inline = if (k <= x) k else m
        // chain overflow pages, last first so each knows its successor
        val perPage = Usable - 4
        val tail = payload.drop(inline)
        val chunks = tail.grouped(perPage).toSeq
        var next = 0
        chunks.reverse.foreach { chunk =>
          val pg = ByteBuffer.allocate(PageSize)
          pg.putInt(next)
          pg.put(chunk)
          next = alloc(pg.array())
        }
        val head = ByteBuffer.allocate(4).putInt(next).array()
        (rowid,
          varint(payload.length) ++ varint(rowid) ++ payload.take(inline) ++ head)
      }
    }

    /** Pack cells into leaf pages, then interior levels up to one root. */
    private def buildLeafLevel(cells: Seq[(Long, Array[Byte])],
                               pageOneUsable: Boolean): Int = {
      val headerLen = 8
      val leaves = packPages(cells, headerLen, if (pageOneUsable) Usable - 100 else Usable)
      val leafPages = leaves.map { group =>
        (group.last._1, alloc(renderPage(pageType = 13, group.map(_._2), rightmost = None)))
      }
      buildInteriorLevels(leafPages)
    }

    /** (maxRowidInSubtree, pageNo) children -> root page number. */
    @scala.annotation.tailrec
    private def buildInteriorLevels(children: Seq[(Long, Int)]): Int = {
      if (children.length == 1) return children.head._2
      // interior cell = 4-byte child page + varint(max rowid in subtree);
      // each page covers a consecutive run of children — cells for all
      // but the run's last child, which becomes the rightmost pointer.
      // Packing counts a cell for EVERY child (the rightmost's cell
      // bytes go unused) — a ≤15-byte overestimate per page, never
      // an overflow.
      val withBytes = children.map { case (maxRowid, page) =>
        (maxRowid, ByteBuffer.allocate(4).putInt(page).array() ++ varint(maxRowid), page)
      }
      val groups = packPages(withBytes.map(c => (c._1, c._2)), headerLen = 12, Usable)
      var idx = 0
      val pagesOut = ArrayBuffer.empty[(Long, Int)]
      groups.foreach { group =>
        val run = withBytes.slice(idx, idx + group.length)
        idx += group.length
        val pageNo = alloc(renderPage(pageType = 5, run.init.map(_._2),
          rightmost = Some(run.last._3)))
        pagesOut += ((run.last._1, pageNo))
      }
      buildInteriorLevels(pagesOut.toSeq)
    }

    /** Greedy packing: each page holds as many cells as fit
      * (header + 2-byte pointer + cell bytes). */
    private def packPages(cells: Seq[(Long, Array[Byte])], headerLen: Int,
                          usable: Int): Seq[Seq[(Long, Array[Byte])]] = {
      val groups = ArrayBuffer.empty[Seq[(Long, Array[Byte])]]
      val cur = ArrayBuffer.empty[(Long, Array[Byte])]
      var used = headerLen
      cells.foreach { c =>
        val need = 2 + c._2.length
        require(headerLen + need <= usable,
          s"cell of ${c._2.length} bytes cannot fit a $usable-byte page")
        if (used + need > usable) {
          groups += cur.toSeq; cur.clear(); used = headerLen
        }
        cur += c; used += need
      }
      if (cur.nonEmpty || groups.isEmpty) groups += cur.toSeq
      groups.toSeq
    }

    /** Render one b-tree page: header, cell pointer array, cells packed
      * from the page end downward. `offset` shifts the header for page 1. */
    private def renderPage(pageType: Int, cells: Seq[Array[Byte]],
                           rightmost: Option[Int], offset: Int = 0): Array[Byte] = {
      val pg = ByteBuffer.allocate(PageSize)
      var content = PageSize
      val ptrs = cells.map { c => content -= c.length; content }
      pg.position(offset)
      pg.put(pageType.toByte).putShort(0.toShort) // no freeblocks
      pg.putShort(cells.length.toShort)
      pg.putShort((content & 0xFFFF).toShort)
      pg.put(0.toByte) // fragmented free bytes
      rightmost.foreach(pg.putInt)
      ptrs.foreach(p => pg.putShort((p & 0xFFFF).toShort))
      cells.zip(ptrs).foreach { case (c, p) => pg.position(p); pg.put(c) }
      pg.array()
    }

    /** Page 1: 100-byte database header + the sqlite_master leaf. */
    def writeMasterAndSave(path: String, masterRows: Seq[Seq[Any]]): Unit = {
      val cells = masterRows.zipWithIndex.map { case (vals, i) =>
        leafCell(i + 1L, record(vals))
      }
      // master must fit one leaf on page 1 (4 short rows always do)
      val groups = packPages(cells, headerLen = 8, Usable - 100)
      require(groups.length == 1, "sqlite_master overflowed page 1")
      val page1 = renderPage(pageType = 13, groups.head.map(_._2),
        rightmost = None, offset = 100)
      val nPages = pages.length + 1
      val hdr = ByteBuffer.wrap(page1).order(ByteOrder.BIG_ENDIAN)
      hdr.put("SQLite format 3\u0000".getBytes("ISO-8859-1"))
      hdr.putShort(PageSize.toShort) // 4096
      hdr.put(1.toByte).put(1.toByte) // legacy write/read versions
      hdr.put(0.toByte) // reserved bytes per page
      hdr.put(64.toByte).put(32.toByte).put(32.toByte) // payload fractions
      hdr.putInt(1) // change counter
      hdr.putInt(nPages) // database size in pages
      hdr.putInt(0).putInt(0) // freelist head, count
      hdr.putInt(1) // schema cookie
      hdr.putInt(4) // schema format number
      hdr.putInt(0) // default page cache size
      hdr.putInt(0) // largest root page (no vacuum)
      hdr.putInt(1) // text encoding: UTF-8
      hdr.putInt(0) // user version
      hdr.putInt(0) // incremental vacuum
      hdr.putInt(0x47504B47) // application id "GPKG"
      hdr.position(92)
      hdr.putInt(1) // version-valid-for
      hdr.putInt(3045000) // sqlite version number
      val out = ByteBuffer.allocate(nPages * PageSize)
      out.put(page1)
      pages.foreach(out.put)
      Files.write(Paths.get(path), out.array())
    }
  }

  // ---- SQLite record encoding -------------------------------------------

  /** Record = header (varint total len + serial-type varints) + values
    * big-endian. Integers use serial type 6 (8 bytes) — legal for any
    * value, and fixed width keeps the encoder simple. */
  private def record(vals: Seq[Any]): Array[Byte] = {
    val typed = vals.map {
      case null => (0L, Array.empty[Byte])
      case v: Long =>
        (6L, ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN).putLong(v).array())
      case v: Double =>
        (7L, ByteBuffer.allocate(8).order(ByteOrder.BIG_ENDIAN).putDouble(v).array())
      case v: String =>
        val b = v.getBytes("UTF-8"); (13L + 2 * b.length, b)
      case v: Array[Byte] => (12L + 2 * v.length, v)
      case other => throw new IllegalArgumentException(
        s"unsupported SQLite value: ${other.getClass}")
    }
    val typesLen = typed.map(t => varint(t._1).length).sum
    // header length includes its own varint; one extra byte is enough
    // until typesLen + 1 crosses a varint-width boundary
    val hdrLen =
      if (varint(typesLen + 1L).length + typesLen == typesLen + 1) typesLen + 1
      else typesLen + 2
    val out = ByteBuffer.allocate(hdrLen + typed.map(_._2.length).sum)
    out.put(varint(hdrLen.toLong))
    typed.foreach(t => out.put(varint(t._1)))
    typed.foreach(t => out.put(t._2))
    out.array()
  }

  /** SQLite varint: big-endian 7-bit groups, high bit = continuation. */
  private def varint(v: Long): Array[Byte] = {
    require(v >= 0, s"negative varint $v")
    if (v <= 0x7F) return Array(v.toByte)
    val groups = ArrayBuffer.empty[Byte]
    var rest = v
    while (rest != 0) { groups += (rest & 0x7F).toByte; rest >>>= 7 }
    val out = groups.reverse.zipWithIndex.map { case (b, i) =>
      if (i < groups.length - 1) (b | 0x80).toByte else b
    }
    require(out.length <= 8, s"varint too wide for this writer: $v")
    out.toArray
  }
}
