/*
 * JVM TableCatalog plugin for lance_trino_spark datasets (SURVEY §2A.A14).
 *
 * The reference implements its catalog surface as Trino ConnectorMetadata
 * (LanceMetadata.java:162-245 schemas, :391-412 listTables, :815-830
 * dropTable; namespace modes LanceRuntime.java:224-260).  The Spark-native
 * equivalent is this class: a real `spark.sql.catalog.<name>` plugin, so
 *
 *     spark.conf: spark.sql.catalog.lance = io.lancespark.LanceJvmCatalog
 *                 spark.sql.catalog.lance.root = /path/to/warehouse
 *
 *     SELECT * FROM lance.schema.tbl [FOR] VERSION AS OF 3
 *     SHOW NAMESPACES IN lance / SHOW TABLES IN lance.schema
 *     CREATE TABLE lance.schema.t (i INT, s STRING)
 *     DROP TABLE lance.schema.t
 *
 * all plan natively through Catalyst — no SQL routing layer.
 *
 * Metadata plane: reads the same `_versions/N.manifest.json` files the
 * Python `lance_trino_spark.format` package commits (format/manifest.py),
 * using Jackson (already on Spark's classpath).  Data plane: scans delegate
 * to Spark's built-in ParquetTable over the manifest's live fragment files,
 * so predicate/projection pushdown, vectorized reads and AQE come from the
 * stock parquet path.  Tables carrying merge-on-read deletion vectors are
 * refused with guidance (compact first, or use the Python format("lance")
 * reader which is deletion-aware) — never silently wrong.
 *
 * Namespace modes mirror catalog.py: "dir" (default,
 * <root>/<schema>/<table>.lance) and "single" (virtual `default` schema,
 * tables at <root>/<table>.lance) — LanceConfig.java:73-105.
 */
package io.lancespark;

import java.io.File;
import java.io.IOException;
import java.nio.charset.StandardCharsets;
import java.nio.file.Files;
import java.nio.file.Path;
import java.nio.file.Paths;
import java.nio.file.StandardCopyOption;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.Comparator;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.regex.Pattern;
import java.util.stream.Stream;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import com.fasterxml.jackson.databind.node.ArrayNode;
import com.fasterxml.jackson.databind.node.ObjectNode;

import org.apache.spark.sql.catalyst.analysis.NoSuchNamespaceException;
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException;
import org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException;
import org.apache.spark.sql.connector.catalog.Identifier;
import org.apache.spark.sql.connector.catalog.NamespaceChange;
import org.apache.spark.sql.connector.catalog.SupportsNamespaces;
import org.apache.spark.sql.connector.catalog.Table;
import org.apache.spark.sql.connector.catalog.TableCatalog;
import org.apache.spark.sql.connector.catalog.TableChange;
import org.apache.spark.sql.connector.expressions.Transform;
import org.apache.spark.sql.types.StructType;
import org.apache.spark.sql.util.CaseInsensitiveStringMap;

public class LanceJvmCatalog implements TableCatalog, SupportsNamespaces,
    org.apache.spark.sql.connector.catalog.ProcedureCatalog {

  /** Vanilla-SQL maintenance procedures (`CALL lance.system.restore(
   *  'db.t', 3)`, create_tag, drop_tag) — metadata-only bodies that
   *  mirror the Python implementations and commit through the shared
   *  hard-link protocol (LanceJvmProcedures). */
  @Override
  public org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure
      loadProcedure(Identifier ident) {
    if (ident.namespace().length != 1
        || !ident.namespace()[0].equals("system")) {
      throw new RuntimeException(
          "procedures live under the 'system' namespace: CALL "
          + name() + ".system.<proc>(...)");
    }
    switch (ident.name()) {
      case "restore":
        return LanceJvmProcedures.restore(root);
      case "create_tag":
        return LanceJvmProcedures.createTag(root);
      case "drop_tag":
        return LanceJvmProcedures.dropTag(root);
      default:
        throw new RuntimeException(
            "unknown procedure: " + ident.name()
            + " (have: restore, create_tag, drop_tag)");
    }
  }

  @Override
  public Identifier[] listProcedures(String[] namespace) {
    if (namespace.length == 1 && namespace[0].equals("system")) {
      return new Identifier[] {
          Identifier.of(namespace, "restore"),
          Identifier.of(namespace, "create_tag"),
          Identifier.of(namespace, "drop_tag"),
      };
    }
    return new Identifier[0];
  }

  private static final ObjectMapper MAPPER = new ObjectMapper();
  private static final Pattern IDENT = Pattern.compile("[A-Za-z0-9_][A-Za-z0-9_\\-]*");
  private static final String SUFFIX = ".lance";

  private String catalogName;
  private Path root;
  private String mode; // "dir" | "single"

  @Override
  public void initialize(String name, CaseInsensitiveStringMap options) {
    this.catalogName = name;
    String r = options.get("root");
    if (r == null) {
      throw new IllegalArgumentException(
          "LanceJvmCatalog requires option spark.sql.catalog." + name + ".root");
    }
    this.root = Paths.get(r);
    this.mode = options.getOrDefault("mode", "dir");
    if (!mode.equals("dir") && !mode.equals("single")) {
      throw new IllegalArgumentException("unknown namespace mode: " + mode);
    }
  }

  @Override
  public String name() {
    return catalogName;
  }

  @Override
  public String[] defaultNamespace() {
    return new String[] {"default"};
  }

  private static void checkIdent(String s, String what) {
    if (!IDENT.matcher(s).matches()) {
      throw new IllegalArgumentException("invalid " + what + " name: " + s);
    }
  }

  /** Unchecked carrier for missing-namespace inside helpers; translated to
   *  the checked NoSuchNamespaceException at the declared interface edges. */
  private static final class NsMissing extends RuntimeException {
    final String[] namespace;
    NsMissing(String[] namespace) {
      this.namespace = namespace;
    }
  }

  private Path nsDir(String[] namespace) {
    if (namespace.length != 1) {
      throw new NsMissing(namespace);
    }
    String ns = namespace[0];
    checkIdent(ns, "schema");
    if (mode.equals("single")) {
      // single-level: only the virtual `default` schema exists; tables live
      // directly under root (LanceRuntime.java:224-260 single-level mode).
      if (!ns.equalsIgnoreCase("default")) {
        throw new NsMissing(namespace);
      }
      return root;
    }
    return root.resolve(ns);
  }

  // ---- SupportsNamespaces -------------------------------------------------

  @Override
  public String[][] listNamespaces() {
    if (mode.equals("single")) {
      return new String[][] {{"default"}};
    }
    File[] entries = root.toFile().listFiles();
    List<String[]> out = new ArrayList<>();
    if (entries != null) {
      Arrays.sort(entries, Comparator.comparing(File::getName));
      for (File f : entries) {
        if (f.isDirectory() && !f.getName().endsWith(SUFFIX)
            && !f.getName().startsWith("_") && !f.getName().startsWith(".")) {
          out.add(new String[] {f.getName()});
        }
      }
    }
    return out.toArray(new String[0][]);
  }

  @Override
  public String[][] listNamespaces(String[] namespace) throws NoSuchNamespaceException {
    if (namespace.length == 0) {
      return listNamespaces();
    }
    if (!namespaceExists(namespace)) {
      throw new NoSuchNamespaceException(namespace);
    }
    return new String[0][]; // single-level namespaces: no children
  }

  @Override
  public boolean namespaceExists(String[] namespace) {
    try {
      return Files.isDirectory(nsDir(namespace));
    } catch (RuntimeException e) {
      return false;
    }
  }

  @Override
  public Map<String, String> loadNamespaceMetadata(String[] namespace)
      throws NoSuchNamespaceException {
    if (!namespaceExists(namespace)) {
      throw new NoSuchNamespaceException(namespace);
    }
    Map<String, String> meta = new HashMap<>();
    meta.put("location", nsDir(namespace).toString());
    return meta;
  }

  @Override
  public void createNamespace(String[] namespace, Map<String, String> metadata) {
    if (mode.equals("single")) {
      throw new UnsupportedOperationException(
          "single-level namespace mode: schemas cannot be created");
    }
    if (namespace.length != 1) {
      throw new IllegalArgumentException(
          "only single-level namespaces are supported: " + String.join(".", namespace));
    }
    checkIdent(namespace[0], "schema");
    try {
      Files.createDirectories(root.resolve(namespace[0]));
    } catch (IOException e) {
      throw new RuntimeException("createNamespace failed: " + e, e);
    }
  }

  @Override
  public void alterNamespace(String[] namespace, NamespaceChange... changes) {
    throw new UnsupportedOperationException("ALTER NAMESPACE is not supported");
  }

  @Override
  public boolean dropNamespace(String[] namespace, boolean cascade)
      throws NoSuchNamespaceException {
    // Restrict-only, like the reference (LanceMetadata.java:162-245 refuses
    // dropping non-empty schemas).
    if (mode.equals("single")) {
      throw new UnsupportedOperationException(
          "single-level namespace mode: schemas cannot be dropped");
    }
    Path dir;
    try {
      dir = nsDir(namespace);
    } catch (NsMissing e) {
      throw new NoSuchNamespaceException(e.namespace);
    }
    if (!Files.isDirectory(dir)) {
      throw new NoSuchNamespaceException(namespace);
    }
    if (listTables(namespace).length > 0 && !cascade) {
      throw new IllegalStateException(
          "namespace " + namespace[0] + " is not empty (RESTRICT)");
    }
    deleteRecursively(dir);
    return true;
  }

  // ---- TableCatalog -------------------------------------------------------

  private Path tableDir(Identifier ident) {
    checkIdent(ident.name(), "table");
    return nsDir(ident.namespace()).resolve(ident.name() + SUFFIX);
  }

  @Override
  public Identifier[] listTables(String[] namespace) throws NoSuchNamespaceException {
    Path dir;
    try {
      dir = nsDir(namespace);
    } catch (NsMissing e) {
      throw new NoSuchNamespaceException(e.namespace);
    }
    if (!Files.isDirectory(dir)) {
      throw new NoSuchNamespaceException(namespace);
    }
    File[] entries = dir.toFile().listFiles();
    List<Identifier> out = new ArrayList<>();
    if (entries != null) {
      Arrays.sort(entries, Comparator.comparing(File::getName));
      for (File f : entries) {
        if (f.isDirectory() && f.getName().endsWith(SUFFIX)) {
          String tbl = f.getName().substring(0, f.getName().length() - SUFFIX.length());
          out.add(Identifier.of(namespace, tbl));
        }
      }
    }
    return out.toArray(new Identifier[0]);
  }

  @Override
  public boolean tableExists(Identifier ident) {
    try {
      return Files.isDirectory(tableDir(ident).resolve("_versions"));
    } catch (RuntimeException e) {
      return false;
    }
  }

  private List<Long> listVersions(Path tableDir) {
    Path versions = tableDir.resolve("_versions");
    List<Long> out = new ArrayList<>();
    if (Files.isDirectory(versions)) {
      try (Stream<Path> s = Files.list(versions)) {
        s.forEach(p -> {
          String n = p.getFileName().toString();
          if (n.endsWith(".manifest.json")) {
            try {
              out.add(Long.parseLong(n.substring(0, n.indexOf('.'))));
            } catch (NumberFormatException ignored) {
              // foreign file in _versions — not a manifest
            }
          }
        });
      } catch (IOException e) {
        throw new RuntimeException("listVersions failed: " + e, e);
      }
    }
    out.sort(Comparator.naturalOrder());
    return out;
  }

  private JsonNode readManifest(Path tableDir, long version) {
    Path p = tableDir.resolve("_versions").resolve(version + ".manifest.json");
    try {
      return MAPPER.readTree(Files.readAllBytes(p));
    } catch (IOException e) {
      throw new RuntimeException("cannot read manifest " + p + ": " + e, e);
    }
  }

  @Override
  public Table loadTable(Identifier ident) throws NoSuchTableException {
    return loadAt(ident, -1L);
  }

  /** SQL `VERSION AS OF n` — TableCatalog time-travel hook
   *  (reference: LanceMetadata.java:249-370 version resolution). */
  @Override
  public Table loadTable(Identifier ident, String version) throws NoSuchTableException {
    long v;
    try {
      v = Long.parseLong(version);
    } catch (NumberFormatException e) {
      // non-numeric `VERSION AS OF 'name'` on a NATIVE table is a TAG
      // (the SDK's _refs/tags layout; lf39) — delegate via tagasof
      Path dir;
      try {
        dir = tableDir(ident);
      } catch (NsMissing ee) {
        throw new NoSuchTableException(ident);
      }
      if (isNativeDataset(dir)) {
        return pythonNativeTable(dir, null, null, version);
      }
      throw new IllegalArgumentException("version must be an integer: " + version);
    }
    if (v <= 0) {
      throw new IllegalArgumentException("version must be positive: " + version);
    }
    return loadAt(ident, v);
  }

  /** SQL `TIMESTAMP AS OF ts` (micros since epoch): latest version whose
   *  commit time <= ts (LanceRuntime.java:361-388 getVersionAtTimestamp). */
  @Override
  public Table loadTable(Identifier ident, long timestampMicros) throws NoSuchTableException {
    Path dir;
    try {
      dir = tableDir(ident);
    } catch (NsMissing e) {
      throw new NoSuchTableException(ident);
    }
    if (!Files.isDirectory(dir)) {
      throw new NoSuchTableException(ident);
    }
    long tsMs = Math.floorDiv(timestampMicros, 1000L);
    if (isNativeDataset(dir)) {
      // native FOR TIMESTAMP AS OF resolves in the Python source
      // (manifest proto field 7 timestamps, ms-floored both sides)
      return pythonNativeTable(dir, null, String.valueOf(tsMs), null);
    }
    long best = -1;
    for (long v : listVersions(dir)) {
      if (readManifest(dir, v).path("timestamp_ms").asLong() <= tsMs) {
        best = v;
      } else {
        break; // commit timestamps are monotone in version number
      }
    }
    if (best < 0) {
      throw new IllegalArgumentException(
          "no version of " + ident + " at or before timestamp " + timestampMicros);
    }
    return loadAt(ident, best);
  }

  private Table loadAt(Identifier ident, long version) throws NoSuchTableException {
    Path dir;
    try {
      dir = tableDir(ident);
    } catch (NsMissing e) {
      throw new NoSuchTableException(ident);
    }
    if (isNativeDataset(dir)) {
      // REAL `.lance` dataset (binary protobuf manifests): the JVM side
      // cannot decode its pages — delegate the Table to the session's
      // registered Python "lance" data source, which reads v1/v2 native
      // files natively. Plain `spark.sql("SELECT ... FROM cat.ns.t
      // [VERSION AS OF ...]")` then plans through Catalyst as usual.
      return pythonNativeTable(
          dir, version < 0 ? null : String.valueOf(version), null, null);
    }
    List<Long> versions = listVersions(dir);
    if (versions.isEmpty()) {
      throw new NoSuchTableException(ident);
    }
    long v = version < 0 ? versions.get(versions.size() - 1) : version;
    if (version >= 0 && !versions.contains(version)) {
      throw new IllegalArgumentException(
          "version " + version + " of " + ident + " does not exist");
    }
    JsonNode manifest = readManifest(dir, v);
    return new LanceJvmTable(catalogName + "." + ident, dir, v, manifest);
  }

  /** Binary-manifest (`_versions/<n>.manifest`, no `.manifest.json`)
   *  detection — mirrors the Python side's is_native_dataset. */
  private boolean isNativeDataset(Path dir) {
    Path versions = dir.resolve("_versions");
    if (!Files.isDirectory(versions)) {
      return false;
    }
    boolean binary = false;
    try (Stream<Path> s = Files.list(versions)) {
      for (Path p : s.toList()) {
        String n = p.getFileName().toString();
        if (n.endsWith(".manifest.json")) {
          return false;
        }
        if (n.endsWith(".manifest")) {
          binary = true;
        }
      }
    } catch (IOException e) {
      return false;
    }
    return binary;
  }

  /** A Table served by the session-registered PYTHON "lance" data source
   *  (one fresh PythonDataSourceV2 instance per load — Spark 4.1 keeps a
   *  single mutable readInfo slot per instance, so instances must never
   *  be shared across differently-pinned plans). Time travel rides the
   *  Python source's native read options: version / timestampasof (epoch
   *  ms) / tagasof. */
  private Table pythonNativeTable(Path dir, String version, String tsMs, String tag) {
    org.apache.spark.sql.execution.datasources.v2.python.PythonDataSourceV2 p =
        new org.apache.spark.sql.execution.datasources.v2.python.PythonDataSourceV2();
    p.setShortName("lance");
    Map<String, String> opts = new HashMap<>();
    opts.put("path", dir.toString());
    if (version != null) {
      opts.put("version", version);
    }
    if (tsMs != null) {
      opts.put("timestampasof", tsMs);
    }
    if (tag != null) {
      opts.put("tagasof", tag);
    }
    try {
      StructType schema = p.inferSchema(new CaseInsensitiveStringMap(opts));
      Table t = p.getTable(schema, new Transform[0], opts);
      // wrapper re-injects path (+ pinned time travel) into scans AND
      // writes — `INSERT INTO` via spark.sql leaves write options empty
      return new LancePyNativeTable(
          t, catalogName + "." + dir.getFileName(), opts);
    } catch (RuntimeException e) {
      throw new RuntimeException(
          "native .lance table at " + dir + " needs the Python 'lance' data source "
              + "registered in this session (lance_trino_spark.sources."
              + "lance_datasource.register_lance_datasource(spark)): " + e, e);
    }
  }

  @Override
  public Table createTable(Identifier ident, StructType schema, Transform[] partitions,
      Map<String, String> properties) throws TableAlreadyExistsException {
    if (partitions.length > 0) {
      throw new UnsupportedOperationException(
          "partitioned tables are not supported (fragments are the layout unit)");
    }
    Path dir;
    try {
      dir = tableDir(ident);
    } catch (NsMissing e) {
      throw new RuntimeException(new NoSuchNamespaceException(e.namespace));
    }
    if (!namespaceExists(ident.namespace())) {
      throw new RuntimeException(new NoSuchNamespaceException(ident.namespace()));
    }
    if (tableExists(ident)) {
      throw new TableAlreadyExistsException(ident);
    }
    // Empty create = manifest version 1 with no fragments, mirroring the
    // reference's declareTable + Overwrite([]) (LanceMetadata.java:834-1027)
    // and the byte layout of format/manifest.py Manifest.to_json.
    ObjectNode m = MAPPER.createObjectNode();
    m.put("version", 1);
    try {
      m.set("schema", MAPPER.readTree(schema.json()));
    } catch (IOException e) {
      throw new RuntimeException("schema serialization failed: " + e, e);
    }
    m.set("fragments", MAPPER.createArrayNode());
    m.put("operation", "create");
    m.putNull("read_version");
    m.put("timestamp_ms", System.currentTimeMillis());
    m.put("max_fragment_id", -1);
    m.set("properties", propsNode(properties));
    try {
      Files.createDirectories(dir.resolve("_versions"));
      Files.createDirectories(dir.resolve("data"));
      // Atomic publish: write sidecar then ATOMIC_MOVE into place, the same
      // no-partial-state contract as format/native_io.py's hard-link commit.
      Path tmp = dir.resolve("_versions").resolve(".1.manifest.json.tmp");
      Files.write(tmp, MAPPER.writeValueAsBytes(m));
      Files.move(tmp, dir.resolve("_versions").resolve("1.manifest.json"),
          StandardCopyOption.ATOMIC_MOVE);
    } catch (IOException e) {
      throw new RuntimeException("createTable failed: " + e, e);
    }
    try {
      return loadTable(ident);
    } catch (NoSuchTableException e) {
      throw new RuntimeException(e);
    }
  }

  private ObjectNode propsNode(Map<String, String> properties) {
    ObjectNode props = MAPPER.createObjectNode();
    for (Map.Entry<String, String> e : properties.entrySet()) {
      // Spark injects reserved props (owner, provider…); keep user ones only.
      if (!e.getKey().startsWith("option.") && !e.getKey().equals(TableCatalog.PROP_OWNER)) {
        props.put(e.getKey(), e.getValue());
      }
    }
    return props;
  }

  /** Catalyst-planned metadata-only schema evolution — beyond the
   *  reference, which rejects evolution outright
   *  (TestLanceConnectorTest.java:139-146). ADD COLUMNS appends a
   *  nullable field to the manifest schema (existing fragment files are
   *  untouched and read as NULL — schema-on-read); DROP COLUMN removes
   *  the field and retires the name forever (parquet resolves columns
   *  by NAME, so re-adding a dropped name would resurrect the old
   *  bytes); RENAME refuses for the same by-name reason (the NATIVE
   *  format resolves by field id and supports rename — via its own
   *  surface). The commit is one manifest version through the shared
   *  hard-link protocol, so it conflict-detects against every Python
   *  and JVM writer. Semantics mirror format/dataset.py
   *  add_column/drop_column exactly (same guards, same property keys). */
  @Override
  public Table alterTable(Identifier ident, TableChange... changes) {
    Path dir = tableDir(ident);
    if (!Files.isDirectory(dir.resolve("_versions"))) {
      throw new RuntimeException(new NoSuchTableException(ident));
    }
    if (isNativeDataset(dir)) {
      throw new UnsupportedOperationException(
          "ALTER TABLE on a native .lance table is served by the Python "
          + "surface (native_add_column / native_add_column_backfill / "
          + "native_drop_column / native_rename_column, or the SQL "
          + "router) — the JVM catalog does not rewrite binary manifests");
    }
    while (true) {
      long latest = LanceJvmDelete.latestVersion(dir);
      ObjectNode next = ((ObjectNode) readManifest(dir, latest)).deepCopy();
      next.put("version", latest + 1);
      next.put("operation", "alter");
      next.put("read_version", latest);
      next.put("timestamp_ms", System.currentTimeMillis());
      next.remove("commit_metadata");
      ObjectNode schema = (ObjectNode) next.get("schema");
      ArrayNode fields = (ArrayNode) schema.get("fields");
      ObjectNode props = (ObjectNode) next.get("properties");
      for (TableChange change : changes) {
        if (change instanceof TableChange.AddColumn ac) {
          applyAddColumn(fields, props, ac);
        } else if (change instanceof TableChange.DeleteColumn dc) {
          applyDropColumn(fields, props, dc);
        } else if (change instanceof TableChange.RenameColumn) {
          throw new UnsupportedOperationException(
              "RENAME COLUMN is not supported on this format: fragment "
              + "files resolve columns by NAME, so a rename would read "
              + "the column as NULL from every existing file (native "
              + ".lance tables resolve by field id and DO support "
              + "rename: native_rename_column)");
        } else if (change instanceof TableChange.SetProperty sp) {
          guardReservedProperty(sp.property());
          props.put(sp.property(), sp.value());
        } else if (change instanceof TableChange.RemoveProperty rp) {
          guardReservedProperty(rp.property());
          props.remove(rp.property());
        } else {
          throw new UnsupportedOperationException(
              "unsupported ALTER TABLE change: " + change);
        }
      }
      try {
        LanceJvmDelete.commitManifest(dir, latest + 1, next);
        break;
      } catch (IllegalStateException conflict) {
        // lost the commit race: re-read and re-apply (the guards re-run
        // against the winner's schema, so a conflicting evolution —
        // e.g. both writers adding the same name — refuses loudly)
      }
    }
    try {
      return loadTable(ident);
    } catch (NoSuchTableException e) {
      throw new RuntimeException(e);
    }
  }

  /** Manifest property keys the ENGINE owns — user SET/UNSET
   *  TBLPROPERTIES must never touch them (clobbering retired_columns
   *  would re-open the resurrection hazard; the index registries and the
   *  streaming epoch are correctness state). */
  private static final java.util.Set<String> RESERVED_PROPS =
      java.util.Set.of("retired_columns", "scalar_indexes",
          "vector_indexes", "blob_columns", "vector_columns",
          "stream_last_epoch");

  private static void guardReservedProperty(String key) {
    if (RESERVED_PROPS.contains(key)) {
      throw new IllegalArgumentException(
          "table property '" + key + "' is engine-owned (index registry "
          + "/ retired-column ledger / streaming epoch) — it cannot be "
          + "set or unset through ALTER TABLE");
    }
  }

  private static void applyAddColumn(ArrayNode fields, ObjectNode props,
      TableChange.AddColumn ac) {
    if (ac.fieldNames().length != 1) {
      throw new UnsupportedOperationException(
          "ADD COLUMNS supports top-level columns only, got "
          + String.join(".", ac.fieldNames()));
    }
    if (!ac.isNullable()) {
      throw new UnsupportedOperationException(
          "added columns must be nullable: existing fragment files "
          + "read the new column as NULL");
    }
    String name = ac.fieldNames()[0];
    for (JsonNode f : fields) {
      if (f.get("name").asText().equals(name)) {
        throw new IllegalArgumentException("column already exists: " + name);
      }
    }
    JsonNode retired = props.get("retired_columns");
    if (retired != null) {
      for (JsonNode r : retired) {
        if (r.asText().equals(name)) {
          throw new IllegalArgumentException(
              "column name '" + name + "' was previously dropped; "
              + "re-adding it would resurrect the old column's values "
              + "from pre-drop fragment files (parquet resolves columns "
              + "by name) — pick a fresh name");
        }
      }
    }
    ObjectNode field = MAPPER.createObjectNode();
    field.put("name", name);
    try {
      field.set("type", MAPPER.readTree(ac.dataType().json()));
    } catch (IOException e) {
      throw new RuntimeException("unserializable column type", e);
    }
    field.put("nullable", true);
    ObjectNode meta = MAPPER.createObjectNode();
    if (ac.comment() != null) {
      meta.put("comment", ac.comment());
    }
    field.set("metadata", meta);
    fields.add(field);
  }

  private static void applyDropColumn(ArrayNode fields, ObjectNode props,
      TableChange.DeleteColumn dc) {
    if (dc.fieldNames().length != 1) {
      throw new UnsupportedOperationException(
          "DROP COLUMN supports top-level columns only");
    }
    String name = dc.fieldNames()[0];
    int at = -1;
    for (int i = 0; i < fields.size(); i++) {
      if (fields.get(i).get("name").asText().equals(name)) {
        at = i;
        break;
      }
    }
    if (at < 0) {
      throw new IllegalArgumentException("no such column: " + name);
    }
    if (fields.size() == 1) {
      throw new IllegalArgumentException("cannot drop the only column");
    }
    JsonNode blobs = props.get("blob_columns");
    if (blobs != null) {
      for (JsonNode b : blobs) {
        if (b.asText().equals(name)) {
          throw new IllegalArgumentException(
              "cannot drop blob column " + name);
        }
      }
    }
    fields.remove(at);
    // retire the name forever (see applyAddColumn) and unregister any
    // scalar/vector index on the column, same commit
    java.util.TreeSet<String> retired = new java.util.TreeSet<>();
    JsonNode r0 = props.get("retired_columns");
    if (r0 != null) {
      for (JsonNode r : r0) {
        retired.add(r.asText());
      }
    }
    retired.add(name);
    ArrayNode rArr = MAPPER.createArrayNode();
    retired.forEach(rArr::add);
    props.set("retired_columns", rArr);
    JsonNode sIdx = props.get("scalar_indexes");
    if (sIdx != null && sIdx.isArray()) {
      ArrayNode keep = MAPPER.createArrayNode();
      for (JsonNode c : sIdx) {
        if (!c.asText().equals(name)) {
          keep.add(c.asText());
        }
      }
      props.set("scalar_indexes", keep);
    }
    JsonNode vIdx = props.get("vector_indexes");
    if (vIdx != null && vIdx.isObject()) {
      ((ObjectNode) vIdx).remove(name);
    }
  }

  @Override
  public boolean dropTable(Identifier ident) {
    Path dir = tableDir(ident);
    if (!Files.isDirectory(dir)) {
      return false;
    }
    deleteRecursively(dir);
    return true;
  }

  @Override
  public void renameTable(Identifier oldIdent, Identifier newIdent) {
    // The reference cannot rename anything (BaseLanceConnectorTest.java:88-118).
    throw new UnsupportedOperationException("RENAME TABLE is not supported");
  }

  private static void deleteRecursively(Path p) {
    try (Stream<Path> walk = Files.walk(p)) {
      walk.sorted(Comparator.reverseOrder()).forEach(q -> {
        try {
          Files.delete(q);
        } catch (IOException e) {
          throw new RuntimeException("delete failed: " + q, e);
        }
      });
    } catch (IOException e) {
      throw new RuntimeException("dropTable failed: " + e, e);
    }
  }

  // Shared with LanceJvmTable: fragment file paths + deletion flag.
  static List<String> livePaths(Path tableDir, JsonNode manifest) {
    List<String> paths = new ArrayList<>();
    for (JsonNode frag : (ArrayNode) manifest.get("fragments")) {
      paths.add(tableDir.resolve(frag.get("path").asText()).toString());
    }
    return paths;
  }

  static boolean hasDeletions(JsonNode manifest) {
    for (JsonNode frag : (ArrayNode) manifest.get("fragments")) {
      JsonNode del = frag.get("deletion");
      if (del != null && !del.isNull() && del.path("num_deleted").asLong() > 0) {
        return true;
      }
    }
    return false;
  }
}
