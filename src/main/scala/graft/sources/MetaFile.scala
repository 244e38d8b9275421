package graft.sources

import java.io.{InputStreamReader, OutputStreamWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileContext, FileSystem, Options, Path}
import org.apache.spark.sql.types.{DataType, StructType}

/** The one write path for the small metadata files the engine owns: the
  * IceTable snapshot claim temp, `CURRENT` and `keys.json`, and the
  * CheckpointedRollup `_checkpoints/day-*.json` markers. A value is written
  * to a hidden temp sibling in full and then moved over its destination in
  * one atomic step, so a reader sees the old value or the new one, never a
  * partial file.
  *
  * On a `file:` filesystem both steps are java.nio: a plain file write and
  * `Files.move(ATOMIC_MOVE, REPLACE_EXISTING)`, i.e. one rename(2). That
  * avoids Hadoop's checksummed local create, which without native Hadoop
  * IO forks `chmod` once for the file and once for its `.crc`, and the
  * slow FileContext overwrite-rename, which on the local ChecksumFs
  * renames the file and its `.crc` in two steps that concurrent overwriters
  * can interleave. These files therefore carry no `.crc`. A stale one left
  * by an older writer is deleted BEFORE the move, so no reader pairs the
  * new content with the old checksum (Hadoop's local FS reads a file that
  * has no `.crc` unverified).
  *
  * On any other filesystem the temp is a Hadoop create and the replace a
  * FileContext overwrite-rename (atomic on HDFS).
  *
  * It also owns the `schema` field those JSON files share: a Spark schema
  * in Spark's own JSON form, absent from files written before the field
  * existed. */
private[graft] object MetaFile {

  private val mapper = new ObjectMapper()

  def putSchema(node: ObjectNode, schema: StructType): Unit =
    node.set[JsonNode]("schema", mapper.readTree(schema.json)): Unit

  def schemaOf(node: JsonNode): Option[StructType] =
    Option(node.get("schema")).filterNot(_.isNull)
      .map(sn => DataType.fromJson(sn.toString).asInstanceOf[StructType])

  def isLocal(fs: FileSystem): Boolean = "file" == fs.getUri.getScheme

  /** java.nio path of a path on the local filesystem `fs`. */
  def local(fs: FileSystem, p: Path): java.nio.file.Path = Paths.get(fs.makeQualified(p).toUri)

  def read(fs: FileSystem, p: Path): String = {
    val in = new InputStreamReader(fs.open(p), StandardCharsets.UTF_8)
    try {
      val sb = new StringBuilder
      val buf = new Array[Char](4096)
      var n = in.read(buf)
      while (n >= 0) { sb.appendAll(buf, 0, n); n = in.read(buf) }
      sb.toString
    } finally in.close()
  }

  /** Write `content` in full to a fresh hidden temp sibling of `dst` (its
    * directory must exist) and return the temp's path. */
  def writeTemp(fs: FileSystem, dst: Path, content: String): Path = {
    val tmp = new Path(dst.getParent, s".${dst.getName}.tmp-${java.util.UUID.randomUUID()}")
    if (isLocal(fs)) Files.write(local(fs, tmp), content.getBytes(StandardCharsets.UTF_8))
    else {
      val out = new OutputStreamWriter(fs.create(tmp, true), StandardCharsets.UTF_8)
      try out.write(content) finally out.close()
    }
    tmp
  }

  /** Atomically replace `dst` with `content`. Concurrent writers of one
    * `dst` each land a complete value; the last move wins. */
  def write(fs: FileSystem, conf: Configuration, dst: Path, content: String): Unit = {
    val tmp = writeTemp(fs, dst, content)
    if (isLocal(fs)) {
      Files.deleteIfExists(local(fs, new Path(dst.getParent, s".${dst.getName}.crc")))
      Files.move(local(fs, tmp), local(fs, dst),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    } else FileContext.getFileContext(fs.getUri, conf).rename(tmp, dst, Options.Rename.OVERWRITE)
  }
}
