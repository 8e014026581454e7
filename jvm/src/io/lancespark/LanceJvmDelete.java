/*
 * Native SQL DELETE through the JVM catalog (SupportsDeleteV2).
 *
 * The reference exposes row-level DML through ConnectorMetadata's
 * merge/delete surface (LanceMetadata.java:1116-1271,
 * DELETE_ROW_AND_INSERT_ROW paradigm with per-fragment deletion buckets,
 * LanceMetadata.java:1199-1213 union-before-apply).  This class gives the
 * Spark TableCatalog the same capability for plain
 * `spark.sql("DELETE FROM lance.ns.t WHERE ...")`:
 *
 *   1. Spark converts the WHERE clause to V2 Predicates; we render them
 *      back to SQL with V2ExpressionSQLBuilder (unsupported expressions
 *      make canDeleteWhere return false, so Spark raises its standard
 *      analysis error instead of a wrong answer).
 *   2. The ACTIVE SparkSession scans the manifest's live fragment files
 *      with the hidden parquet `_metadata.row_index` column — the exact
 *      row-address derivation the Python committer uses (fragment id <<
 *      32 | row index) — and collects matching (file, row) pairs grouped
 *      per fragment (union-before-apply, bounded by a loud cap).
 *   3. Per-fragment deletion vectors are UNIONED with any existing ones
 *      and written as parquet under _deletions/ with the same
 *      (fragment_id, row_index) schema the Python reader consumes; fully
 *      deleted fragments drop out of the manifest.
 *   4. The new manifest version commits via the same hard-link
 *      create-if-absent protocol as format/manifest.py
 *      (native_io.publish_if_absent) — Files.createLink fails
 *      with FileAlreadyExistsException when another writer won, so the
 *      two committers interoperate safely on one table.
 *
 * Empty predicate array (TRUNCATE) commits a fragment-free manifest with
 * ZERO data IO — the O(1) metadata-only path.
 */
package io.lancespark;

import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.DirectoryStream;
import java.nio.file.FileAlreadyExistsException;
import java.nio.file.Files;
import java.nio.file.Path;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.HashSet;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.TreeSet;
import java.util.UUID;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import com.fasterxml.jackson.databind.node.ArrayNode;
import com.fasterxml.jackson.databind.node.ObjectNode;

import org.apache.spark.sql.Dataset;
import org.apache.spark.sql.Encoders;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.classic.SparkSession;
import org.apache.spark.sql.connector.expressions.filter.Predicate;
import org.apache.spark.sql.connector.util.V2ExpressionSQLBuilder;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.StructType;

final class LanceJvmDelete {

  private static final ObjectMapper MAPPER = new ObjectMapper();
  /** Mirrors the Python committer's cow_threshold_rows: a delete matching
   *  more rows than this should be a copy-on-write rewrite, which stays a
   *  Python-committer capability — refuse loudly rather than collect an
   *  unbounded row set onto the driver. */
  private static final long MAX_COLLECTED_DELETES = 10_000_000L;

  private LanceJvmDelete() {}

  /** SQL string for the conjunction of V2 predicates, "" for an empty
   *  array (truncate), or null when any predicate has no SQL rendering. */
  static String toSql(Predicate[] predicates) {
    if (predicates == null || predicates.length == 0) {
      return "";
    }
    V2ExpressionSQLBuilder builder = new V2ExpressionSQLBuilder();
    StringBuilder sb = new StringBuilder();
    for (Predicate p : predicates) {
      String s;
      try {
        s = builder.build(p);
      } catch (Throwable t) {
        return null;
      }
      if (sb.length() > 0) {
        sb.append(" AND ");
      }
      sb.append("(").append(s).append(")");
    }
    return sb.toString();
  }

  static void run(Path tableDir, long version, JsonNode manifest,
      StructType schema, String cond) {
    long latest = latestVersion(tableDir);
    if (latest != version) {
      throw new IllegalStateException(
          "concurrent write: table advanced to v" + latest
          + " since v" + version + " was read (Update conflicts with any "
          + "concurrent commit)");
    }
    Map<Long, Set<Long>> newDeletes = new HashMap<>();
    if (!cond.isEmpty()) {
      SparkSession spark = SparkSession.active();
      List<String> paths = LanceJvmCatalog.livePaths(tableDir, manifest);
      if (paths.isEmpty()) {
        return;
      }
      Dataset<Row> matched = spark.read().schema(schema)
          .parquet(paths.toArray(new String[0]))
          .selectExpr("*", "_metadata.file_path AS __lance_fp",
              "_metadata.row_index AS __lance_ri")
          .where(cond)
          .selectExpr("__lance_fp", "__lance_ri");
      long n = matched.count();
      if (n == 0) {
        return;
      }
      if (n > MAX_COLLECTED_DELETES) {
        throw new UnsupportedOperationException(
            "DELETE matches " + n + " rows (> " + MAX_COLLECTED_DELETES
            + "); a delete this large should rewrite the table copy-on-write"
            + " — run it through the Python committer (operators/dml.delete),"
            + " which switches to an overwrite automatically");
      }
      Map<String, Long> fidByBasename = new HashMap<>();
      for (JsonNode frag : (ArrayNode) manifest.get("fragments")) {
        Path p = tableDir.resolve(frag.get("path").asText());
        fidByBasename.put(p.getFileName().toString(), frag.get("id").asLong());
      }
      List<Row> grouped = matched.groupBy("__lance_fp")
          .agg(functions.collect_set("__lance_ri").alias("ris"))
          .collectAsList();
      for (Row r : grouped) {
        String fp = r.getString(0);
        String base = fp.substring(fp.lastIndexOf('/') + 1);
        Long fid = fidByBasename.get(base);
        if (fid == null) {
          throw new IllegalStateException("matched unknown data file " + fp);
        }
        Set<Long> ris = new HashSet<>(r.getList(1));
        newDeletes.computeIfAbsent(fid, k -> new HashSet<>()).addAll(ris);
      }
    }
    commitUpdate(tableDir, version, manifest, newDeletes, !cond.isEmpty());
  }

  private static void commitUpdate(Path tableDir, long version,
      JsonNode manifest, Map<Long, Set<Long>> newDeletes, boolean mor) {
    SparkSession spark = mor ? SparkSession.active() : null;
    ObjectNode next = ((ObjectNode) manifest).deepCopy();
    next.put("version", version + 1);
    next.put("operation", "update");
    next.put("read_version", version);
    next.put("timestamp_ms", System.currentTimeMillis());
    next.remove("commit_metadata");
    ArrayNode newFrags = MAPPER.createArrayNode();
    if (mor) {
      for (JsonNode frag : (ArrayNode) manifest.get("fragments")) {
        long fid = frag.get("id").asLong();
        Set<Long> adds = newDeletes.get(fid);
        if (adds == null) {
          newFrags.add(frag.deepCopy());
          continue;
        }
        TreeSet<Long> merged = new TreeSet<>(adds);
        JsonNode del = frag.get("deletion");
        if (del != null && !del.isNull()) {
          Path existing = tableDir.resolve(del.get("path").asText());
          for (Row r : spark.read().parquet(existing.toString())
              .select("row_index").collectAsList()) {
            merged.add(r.getLong(0));
          }
        }
        long physical = frag.get("physical_rows").asLong();
        if (merged.size() >= physical) {
          continue; // fully deleted fragment drops out of the manifest
        }
        String rel = "_deletions/" + UUID.randomUUID().toString().replace("-", "")
            + ".parquet";
        writeDeletionParquet(spark, tableDir, rel, fid, merged);
        ObjectNode updated = frag.deepCopy();
        ObjectNode delNode = MAPPER.createObjectNode();
        delNode.put("path", rel);
        delNode.put("num_deleted", merged.size());
        updated.set("deletion", delNode);
        newFrags.add(updated);
      }
    }
    // truncate (mor == false) leaves newFrags empty: metadata-only
    next.set("fragments", newFrags);
    commitManifest(tableDir, version + 1, next);
  }

  static void writeDeletionParquet(SparkSession spark, Path tableDir,
      String rel, long fid, TreeSet<Long> rows) {
    // Same layout the Python committer writes (dataset.py commit_update):
    // columns (fragment_id: i64, row_index: i64) sorted by row_index.
    List<Long> sorted = new ArrayList<>(rows);
    Dataset<Row> df = spark.createDataset(sorted, Encoders.LONG())
        .toDF("row_index")
        .selectExpr("CAST(" + fid + " AS BIGINT) AS fragment_id",
            "CAST(row_index AS BIGINT) AS row_index")
        .orderBy("row_index")
        .coalesce(1);
    Path tmpDir = tableDir.resolve("_deletions")
        .resolve(".tmp-" + UUID.randomUUID());
    df.write().mode("overwrite").parquet(tmpDir.toString());
    try {
      Path part = null;
      try (DirectoryStream<Path> s = Files.newDirectoryStream(tmpDir)) {
        for (Path p : s) {
          String name = p.getFileName().toString();
          if (name.startsWith("part-") && name.endsWith(".parquet")) {
            part = p;
            break;
          }
        }
      }
      if (part == null) {
        throw new IOException("no parquet part written under " + tmpDir);
      }
      Files.createDirectories(tableDir.resolve("_deletions"));
      Files.move(part, tableDir.resolve(rel));
      deleteRecursively(tmpDir);
    } catch (IOException e) {
      throw new RuntimeException("writing deletion vector failed", e);
    }
  }

  static long latestVersion(Path tableDir) {
    Path vdir = tableDir.resolve("_versions");
    long latest = -1;
    try (DirectoryStream<Path> s = Files.newDirectoryStream(vdir,
        "*.manifest.json")) {
      for (Path p : s) {
        String name = p.getFileName().toString();
        try {
          latest = Math.max(latest,
              Long.parseLong(name.substring(0, name.indexOf('.'))));
        } catch (NumberFormatException ignored) {
          // non-version manifest name
        }
      }
    } catch (IOException e) {
      throw new RuntimeException(e);
    }
    return latest;
  }

  static void commitManifest(Path tableDir, long version,
      ObjectNode payload) {
    // Hard-link create-if-absent: the identical atomic protocol as
    // format/native_io.py publish_if_absent, so the JVM
    // and Python committers conflict-detect against each other.
    Path vdir = tableDir.resolve("_versions");
    Path tmp = vdir.resolve(".tmp-" + UUID.randomUUID() + ".json");
    Path target = vdir.resolve(version + ".manifest.json");
    try {
      Files.createDirectories(vdir);
      Files.write(tmp, MAPPER.writeValueAsString(payload)
          .getBytes(StandardCharsets.UTF_8));
      try {
        Files.createLink(target, tmp);
      } catch (FileAlreadyExistsException e) {
        throw new IllegalStateException("version " + version + " at "
            + tableDir + " was committed by another transaction", e);
      } finally {
        Files.deleteIfExists(tmp);
      }
    } catch (IOException e) {
      throw new RuntimeException("manifest commit failed", e);
    }
  }

  private static void deleteRecursively(Path p) {
    try (DirectoryStream<Path> s = Files.newDirectoryStream(p)) {
      for (Path c : s) {
        if (Files.isDirectory(c)) {
          deleteRecursively(c);
        } else {
          Files.delete(c);
        }
      }
      Files.delete(p);
    } catch (IOException ignored) {
      // best-effort tmp cleanup
    }
  }
}
