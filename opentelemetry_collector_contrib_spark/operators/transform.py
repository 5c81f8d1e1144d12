"""Record transformers: attributesprocessor actions + stanza field ops.

Reference: the attraction action enum insert/update/upsert/delete/hash/
extract/convert (internal/coreinternal/attraction/attraction.go:111-144,
apply loop :304-365) and the stanza transformer zoo (add/copy/move/remove/
retain/flatten/regex_replace/unquote — operator/transformer/*).

All of these are single-projection column ops — they fuse into one
whole-stage-codegen'd select regardless of how many actions are chained,
where the reference walks every record once per processor.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class AttrAction:
    action: str               # insert|update|upsert|delete|hash|extract|convert
    key: str                  # target column
    value: object = None      # literal for insert/update/upsert
    from_attribute: str | None = None
    pattern: str | None = None        # for extract
    converted_type: str | None = None  # for convert


def _source(a: AttrAction) -> Column:
    if a.from_attribute is not None:
        return F.col(a.from_attribute)
    return F.lit(a.value)


def apply_attr_actions(df: DataFrame, actions: list[AttrAction]) -> DataFrame:
    """attraction.go:304-365 — ordered action application."""
    out = df
    for a in actions:
        exists = a.key in out.columns
        if a.action == "insert":
            # only set when absent/null (attraction.go INSERT)
            if exists:
                out = out.withColumn(a.key, F.coalesce(F.col(a.key), _source(a)))
            else:
                out = out.withColumn(a.key, _source(a))
        elif a.action == "update":
            # only overwrite when present (attraction.go UPDATE)
            if exists:
                out = out.withColumn(a.key, F.when(F.col(a.key).isNotNull(), _source(a)).otherwise(F.col(a.key)))
        elif a.action == "upsert":
            out = out.withColumn(a.key, _source(a))
        elif a.action == "delete":
            if exists:
                out = out.drop(a.key)
        elif a.action == "hash":
            # reference hashes with SHA1 (attraction.go sha1Hasher); we expose
            # sha2-256 as default-modern with sha1 parity available
            out = out.withColumn(a.key, F.sha2(F.col(a.key).cast("string").cast("binary"), 256))
        elif a.action == "extract":
            out = out.withColumn(a.key, F.regexp_extract(F.col(a.from_attribute or a.key), a.pattern, 1))
        elif a.action == "convert":
            out = out.withColumn(a.key, F.col(a.key).cast(a.converted_type))
        else:
            raise ValueError(f"unknown action {a.action}")
    return out


# --- stanza transformers (operator/transformer/*) ---------------------------

def add(df: DataFrame, field: str, value: object | Column) -> DataFrame:
    return df.withColumn(field, value if isinstance(value, Column) else F.lit(value))


def copy_field(df: DataFrame, src: str, dst: str) -> DataFrame:
    return df.withColumn(dst, F.col(src))


def move(df: DataFrame, src: str, dst: str) -> DataFrame:
    return df.withColumnRenamed(src, dst)


def remove(df: DataFrame, *fields: str) -> DataFrame:
    return df.drop(*fields)


def retain(df: DataFrame, fields: list[str]) -> DataFrame:
    return df.select(*fields)


def flatten(df: DataFrame, struct_col: str) -> DataFrame:
    """transformer/flatten — lift nested struct one level up."""
    others = [c for c in df.columns if c != struct_col]
    return df.select(*others, f"{struct_col}.*")


def assign_keys(df: DataFrame, list_col: str, keys: list[str], dest: str = "kv") -> DataFrame:
    """transformer/assignkeys — zip a static key list onto a value slice."""
    return df.withColumn(dest, F.map_from_arrays(F.array(*[F.lit(k) for k in keys]), F.col(list_col)))


def regex_replace(df: DataFrame, field: str, pattern: str, replacement: str) -> DataFrame:
    return df.withColumn(field, F.regexp_replace(F.col(field), pattern, replacement))


def unquote(df: DataFrame, field: str) -> DataFrame:
    return df.withColumn(field, F.regexp_replace(F.col(field), '^"(.*)"$', "$1"))


# --- redactionprocessor (processor/redactionprocessor/processor.go) ---------
def redact(
    df: DataFrame,
    allowed_cols: list[str] | None = None,
    masked_patterns: dict[str, str] | None = None,
    mask: str = "****",
) -> DataFrame:
    """Column allowlist + regex value masking."""
    out = df.select(*allowed_cols) if allowed_cols else df
    for col, pattern in (masked_patterns or {}).items():
        out = out.withColumn(col, F.regexp_replace(F.col(col), pattern, mask))
    return out


# --- unrollprocessor (processor/unrollprocessor/processor.go:31-68) ---------
def unroll(df: DataFrame, array_col: str, out_col: str = "element") -> DataFrame:
    """Slice body → one record per element. The reference's only UDTF-shaped
    operator == explode()."""
    return df.withColumn(out_col, F.explode(F.col(array_col)))


# --- schemaprocessor / genainormalizer: rename maps --------------------------
def rename_attributes(df: DataFrame, mapping: dict[str, str]) -> DataFrame:
    out = df
    for old, new in mapping.items():
        if old in out.columns:
            out = out.withColumnRenamed(old, new)
    return out


# genainormalizerprocessor (processor/genainormalizerprocessor/README.md):
# ordered attribute-name mapping tables (OpenInference/OpenLLMetry -> OTel
# GenAI semconv) + value_mappings. Our parsed-field names stand in for the
# vendor attr names; the plan shape (rename chain + value when-chain in one
# projection) is the operator.
GENAI_ATTR_MAP: dict[str, str] = {
    "model": "gen_ai.request.model",
    "tokens": "gen_ai.usage.output_tokens",
    "event_name": "gen_ai.operation.name",
    "tool": "gen_ai.tool.name",
}

GENAI_VALUE_MAPS: dict[str, dict[str, str]] = {
    # operation-name normalization (value_mappings table)
    "gen_ai.operation.name": {
        "tool_call": "execute_tool",
        "completion": "chat",
        "handoff": "invoke_agent",
        "retry": "chat",
    },
}


def genai_normalize(
    df: DataFrame,
    attr_map: dict[str, str] | None = None,
    value_maps: dict[str, dict[str, str]] | None = None,
) -> DataFrame:
    """Rename vendor attributes onto the GenAI semconv, then normalize
    values per the mapping tables. Unmapped values pass through."""
    out = rename_attributes(df, attr_map or GENAI_ATTR_MAP)
    for col_name, vmap in (value_maps or GENAI_VALUE_MAPS).items():
        if col_name not in out.columns:
            continue
        c = F.col(f"`{col_name}`")  # semconv names contain dots
        chain = None
        for old, new in vmap.items():
            cond = c == old
            chain = F.when(cond, F.lit(new)) if chain is None else chain.when(cond, F.lit(new))
        out = out.withColumn(col_name, chain.otherwise(c))
    return out


# --- sumologicprocessor (processor/sumologicprocessor/README.md) -------------
# OTel-convention -> Sumo-convention attribute key translation table
# (translate_attributes_processor.go; README "Attribute translation").
# Order matters: two sources map to `host` / `service`; the first rename wins
# and later sources keep their key ("if attribute with target name already
# exists, translation is not being done").
SUMO_ATTR_TRANSLATIONS: dict[str, str] = {
    "cloud.account.id": "AccountId",
    "cloud.availability_zone": "AvailabilityZone",
    "cloud.platform": "aws_service",
    "cloud.region": "Region",
    "host.id": "InstanceId",
    "host.name": "host",
    "host.type": "InstanceType",
    "k8s.cluster.name": "Cluster",
    "k8s.container.name": "container",
    "k8s.daemonset.name": "daemonset",
    "k8s.deployment.name": "deployment",
    "k8s.namespace.name": "namespace",
    "k8s.node.name": "node",
    "k8s.service.name": "service",
    "k8s.pod.hostname": "host",
    "k8s.pod.name": "pod",
    "k8s.pod.uid": "pod_id",
    "k8s.replicaset.name": "replicaset",
    "k8s.statefulset.name": "statefulset",
    "service.name": "service",
    "log.file.path_resolved": "_sourceName",
}

# cloud.platform -> cloud.namespace (README "Adding cloud.namespace");
# unmapped platforms add nothing (null).
SUMO_CLOUD_NAMESPACE: dict[str, str] = {
    "aws_ec2": "aws/ec2",
    "aws_ecs": "ecs",
    "aws_elastic_beanstalk": "ElasticBeanstalk",
}


def sumologic_process(
    df: DataFrame,
    add_cloud_namespace: bool = True,
    translate_attributes: bool = True,
    aggregate_attributes: dict[str, str] | None = None,
    field_attributes: dict[str, str] | None = None,
) -> DataFrame:
    """sumologicprocessor sub-features over relational attribute columns.

    * cloud.namespace stamped from cloud.platform per SUMO_CLOUD_NAMESPACE
      (null when unmapped — attribute absent);
    * attribute key translation per SUMO_ATTR_TRANSLATIONS, skipping a rename
      when the target column already exists;
    * aggregate_attributes {out_key: prefix}: every column starting with
      `prefix` moves into one map column `out_key` keyed by the trimmed name
      (README "Aggregating attributes"); null values are dropped from the map
      (an absent attribute can't be a map entry);
    * field_attributes {attr: field}: copy an attribute up as a named field
      (README "Severity Attribute").

    All four are pure projections/renames — scan-speed, no shuffle.
    The "nesting attributes" feature needs variant-typed nested maps and is
    intentionally out of scope for the relational model (README "Nesting").
    """
    out = df
    if add_cloud_namespace and "cloud.platform" in out.columns:
        plat = F.col("`cloud.platform`")
        chain = None
        for k, v in SUMO_CLOUD_NAMESPACE.items():
            chain = (F.when(plat == k, F.lit(v)) if chain is None else chain.when(plat == k, F.lit(v)))
        out = out.withColumn("cloud.namespace", chain.otherwise(F.lit(None).cast("string")))
    if translate_attributes:
        for src, dst in SUMO_ATTR_TRANSLATIONS.items():
            if src in out.columns and dst not in out.columns:
                out = out.withColumnRenamed(src, dst)
    for out_key, prefix in (aggregate_attributes or {}).items():
        matched = [c for c in out.columns if c.startswith(prefix) and c != out_key]
        if not matched:
            continue
        entries = F.map_filter(
            F.map_from_arrays(
                F.array(*[F.lit(c[len(prefix):]) for c in matched]),
                F.array(*[F.col(f"`{c}`").cast("string") for c in matched]),
            ),
            lambda _, v: v.isNotNull(),
        )
        out = out.withColumn(out_key, entries).drop(*matched)
    for attr, field in (field_attributes or {}).items():
        if attr in out.columns:
            out = out.withColumn(field, F.col(f"`{attr}`"))
    return out


def redact_attributes(
    df: DataFrame,
    attrs_col: str = "attrs",
    allow_all_keys: bool = False,
    allowed_keys: list[str] | None = None,
    ignored_keys: list[str] | None = None,
    allowed_values: list[str] | None = None,
    blocked_values: list[str] | None = None,
    blocked_key_patterns: list[str] | None = None,
    mask: str = "****",
    hash_function: str | None = None,
    summary: str = "info",
) -> DataFrame:
    """redactionprocessor over a map attribute column — the full config
    surface (processor.go:330-381, README): per key, in the reference's
    exact order:

      1. `ignored_keys` (exact match) pass through untouched;
      2. fail-closed allowlist — with allow_all_keys=False a key missing
         from `allowed_keys` is DELETED;
      3. a value matching any `allowed_values` regex is exempt from
         masking;
      4. a key matching any `blocked_key_patterns` regex has its WHOLE
         value masked (the mask literal, or hex digest when
         `hash_function` ∈ md5/sha1/sha256);
      5. otherwise every `blocked_values` regex match in the value is
         replaced by the mask. Divergence (documented): with a
         hash_function set, a value containing any blocked match becomes
         the digest of the whole original value — per-match hashing needs
         a per-row UDF, which this operator refuses to be. The reference's
         db-statement SQL obfuscation lives in `spans.sql_normalize`.

    Summary attributes (addMetaAttrs:417-437) join the map:
    `redaction.redacted.count/keys`, `.masked.count/keys`,
    `.allowed.count/keys`, `.ignored.count` — counts at summary='info',
    plus sorted key-name CSVs at 'debug' (the reference preserves Go map
    iteration order; sorted here for determinism), nothing at 'silent'.

    Pure map/array algebra in one projection — no shuffle, no UDF."""
    if summary not in ("debug", "info", "silent"):
        raise ValueError("summary must be debug|info|silent")
    if hash_function not in (None, "md5", "sha1", "sha256"):
        raise ValueError("hash_function must be md5|sha1|sha256 or None")

    def _hashed(v: Column) -> Column:
        if hash_function == "md5":
            return F.md5(v)
        if hash_function == "sha1":
            return F.sha1(v)
        if hash_function == "sha256":
            return F.sha2(v, 256)
        return F.lit(mask)

    def _any_match(v: Column, patterns: list[str]) -> Column:
        out = F.lit(False)
        for p in patterns:
            out = out | v.rlike(p)
        return out

    m = F.col(attrs_col)
    ents = F.map_entries(m)

    def cls_of(e: Column) -> Column:
        k, v = e["key"], e["value"]
        ignored = k.isin(*ignored_keys) if ignored_keys else F.lit(False)
        redacted = (
            F.lit(False)
            if allow_all_keys
            else (~k.isin(*allowed_keys) if allowed_keys else F.lit(True))
        )
        allowed_v = _any_match(v, allowed_values) if allowed_values else F.lit(False)
        mask_key = _any_match(k, blocked_key_patterns) if blocked_key_patterns else F.lit(False)
        return (
            F.when(ignored, F.lit("i"))
            .when(redacted, F.lit("r"))
            .when(allowed_v, F.lit("a"))
            .when(mask_key, F.lit("m"))
            .otherwise(F.lit("v"))
        )

    def new_value(e: Column) -> Column:
        v = e["value"]
        replaced = v
        for p in blocked_values or []:
            replaced = F.regexp_replace(replaced, p, mask)
        if hash_function is not None and blocked_values:
            # documented divergence: whole-value digest when any match hit
            replaced = F.when(replaced != v, _hashed(v)).otherwise(v)
        return (
            F.when(e["cls"] == "m", _hashed(v))
            .when(e["cls"] == "v", replaced)
            .otherwise(v)
        )

    tagged = F.transform(
        ents,
        lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value"), cls_of(e).alias("cls")),
    )
    staged = df.select("*", tagged.alias("_rtag"))
    t = F.col("_rtag")
    finished = F.transform(
        F.filter(t, lambda e: e["cls"] != "r"),
        lambda e: F.struct(
            e["key"].alias("key"),
            new_value(e).alias("value"),
            (F.when(e["cls"] == "m", True)
             .when(e["cls"] == "v", new_value(e) != e["value"])
             .otherwise(F.lit(False))).alias("masked"),
        ),
    )
    staged = staged.select(*df.columns, finished.alias("_rfin"), t.alias("_rtag2"))
    fin, tag = F.col("_rfin"), F.col("_rtag2")

    def keys_where(src: Column, cond) -> Column:
        return F.array_sort(F.transform(F.filter(src, cond), lambda e: e["key"]))

    red_keys = keys_where(tag, lambda e: e["cls"] == "r")
    ign_keys = keys_where(tag, lambda e: e["cls"] == "i")
    alw_keys = keys_where(tag, lambda e: e["cls"] == "a")
    msk_keys = keys_where(fin, lambda e: e["masked"])
    base_map = F.map_from_entries(
        F.transform(fin, lambda e: F.struct(e["key"].alias("key"), e["value"].alias("value")))
    )
    meta: list[tuple[str, Column]] = []
    if summary in ("info", "debug"):
        meta += [
            ("redaction.redacted.count", F.size(red_keys).cast("string")),
            ("redaction.masked.count", F.size(msk_keys).cast("string")),
            ("redaction.allowed.count", F.size(alw_keys).cast("string")),
            ("redaction.ignored.count", F.size(ign_keys).cast("string")),
        ]
    if summary == "debug":
        meta += [
            ("redaction.redacted.keys", F.array_join(red_keys, ",")),
            ("redaction.masked.keys", F.array_join(msk_keys, ",")),
            ("redaction.allowed.keys", F.array_join(alw_keys, ",")),
        ]
    out_map = base_map
    if meta:
        out_map = F.map_concat(
            base_map, F.create_map(*[x for k, v in meta for x in (F.lit(k), v)])
        )
    return staged.select(
        *[c for c in df.columns if c != attrs_col], out_map.alias(attrs_col)
    )

