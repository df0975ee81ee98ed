package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.spark.JsonataDF

/** The reference's core operator surface — JSONata expressions over record
  * envelopes — exercised against the testdata tables with exact DuckDB
  * oracles. Each query wraps rows as envelopes, evaluates a JSONata
  * expression per record via the native Catalyst expression (narrow map, no
  * shuffle), decodes the JSON result to typed columns, and orders totally for
  * the driver's hash compare.
  */
object JsonataQueries {
  import Tables.t

  private def q(name: String, table: String, expr: String, ddl: String,
                order: Seq[String], oracle: Option[String]): Q =
    Q(name,
      (s, d) => {
        // two-tier: native Columns when the subset compiles, interpreter otherwise
        val out = JsonataDF.auto(Tables.spread(t(s, d, table)), expr, StructType.fromDDL(ddl), topic = table)
        out.orderBy(order.map(col).toIndexedSeq: _*)
      },
      oracle)

  val entries: Seq[Q] = Seq(
    // ---- jx01: predicate + projection + arithmetic (B2/B9/B15/B18) ----
    q("jx01_filter_project", "events",
      "value.event_type = 'click' ? {'event_id': value.event_id, 'user_id': value.user_id, 'v2': value.value * 2} : null",
      "event_id BIGINT, user_id BIGINT, v2 DOUBLE",
      Seq("event_id"),
      Some("""SELECT event_id, user_id, value * 2 AS v2 FROM events
        WHERE event_type = 'click' ORDER BY event_id""")),

    // ---- jx02: dynamic JSON navigation via $eval over a JSON-string column ----
    q("jx02_props_extract", "events",
      "{'event_id': value.event_id, 'k': $eval(value.props, {}).k}",
      "event_id BIGINT, k BIGINT",
      Seq("event_id"),
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id""")),

    // ---- jx03: string function library ($uppercase/$substring/$split/$count) ----
    q("jx03_string_ops", "documents",
      "{'doc_id': value.doc_id, 'up': $uppercase($substring(value.text, 0, 10)), 'nw': $count($split(value.text, ' '))}",
      "doc_id BIGINT, up STRING, nw BIGINT",
      Seq("doc_id"),
      Some("""SELECT doc_id, upper(substr(text, 1, 10)) AS up,
        len(string_split(text, ' ')) AS nw FROM documents ORDER BY doc_id""")),

    // ---- jx04: tombstone drop (A3) — null result removes the record ----
    q("jx04_tombstone", "documents",
      "value.lang = 'en' ? {'doc_id': value.doc_id, 'lang': value.lang} : null",
      "doc_id BIGINT, lang STRING",
      Seq("doc_id"),
      Some("SELECT doc_id, lang FROM documents WHERE lang = 'en' ORDER BY doc_id")),

    // ---- jx05: restructure + concat + comparison (B11/B14/B18) ----
    q("jx05_restructure", "orders",
      "{'orderkey': value.o_orderkey, 'tag': value.o_orderstatus & '-' & $substring(value.o_orderpriority, 0, 1), 'big': value.o_totalprice > 150000}",
      "orderkey BIGINT, tag STRING, big BOOLEAN",
      Seq("orderkey"),
      Some("""SELECT o_orderkey AS orderkey,
        o_orderstatus || '-' || substr(o_orderpriority, 1, 1) AS tag,
        o_totalprice > 150000 AS big FROM orders ORDER BY orderkey""")),

    // ---- jx07: the reference's removeEmail pattern at scale — $sift/$merge/
    //      lambda schema-as-data rewrite per record (reference Test.java:63-108) ----
    q("jx07_schema_rewrite", "documents",
      """(
        $dropText := function($v, $k) { $k != 'text' };
        $schema := {"type": "STRUCT", "fields": {
          "doc_id": {"name": "doc_id", "index": 0, "schema": {"type": "INT64"}},
          "text": {"name": "text", "index": 1, "schema": {"type": "STRING"}},
          "lang": {"name": "lang", "index": 2, "schema": {"type": "STRING"}},
          "source": {"name": "source", "index": 3, "schema": {"type": "STRING"}},
          "n_chars": {"name": "n_chars", "index": 4, "schema": {"type": "INT64"}}}};
        $newSchema := $merge([$schema, {"fields": $sift($schema.fields, $dropText)}]);
        $merge([$sift(value, $dropText), {"nf": $count($keys($newSchema.fields))}])
      )""",
      "doc_id BIGINT, lang STRING, source STRING, n_chars BIGINT, nf BIGINT",
      Seq("doc_id"),
      Some("""SELECT doc_id, lang, source, n_chars, 4 AS nf
        FROM documents ORDER BY doc_id""")),

    // ---- jx08: variant envelope tier (SURVEY §1.4) — the transform emits ----
    // ---- VariantType; downstream traversal is native try_variant_get     ----
    // ---- (binary-encoded, codegen'd), never a JSON re-parse              ----
    Q("jx08_variant_props",
      (s, d) => {
        val df = Tables.spread(t(s, d, "events"))
        val env = to_json(struct(struct(col("event_id"), col("props")).as("value")))
        df.select(graft.spark.JsonataFunctions.jsonataVariant(env,
            "{'event_id': value.event_id, 'props': $eval(value.props, {})}").as("v"))
          .select(
            try_variant_get(col("v"), "$.event_id", "bigint").as("event_id"),
            try_variant_get(col("v"), "$.props.k", "bigint").as("k"))
          .orderBy(col("event_id"))
      },
      Some("""SELECT event_id, CAST(json_extract(props, '$.k') AS BIGINT) AS k
        FROM events ORDER BY event_id""")),

    // ---- jx09: jx06's query through the struct SQL surface — struct in,   ----
    // ---- typed struct out, zero JSON text ops per record (vs jx06's       ----
    // ---- to_json + parse + serialize + from_json string surface)          ----
    Q("jx09_sql_typed",
      (s, d) => {
        graft.spark.JsonataFunctions.registerNativeSql(s)
        val df = Tables.spread(t(s, d, "events"))
        df.createOrReplaceTempView("events_native")
        s.sql("""
          SELECT r.event_id, r.total FROM (
            SELECT jsonata_typed(named_struct('event_id', event_id, 'value', value),
                     '{''event_id'': value.event_id, ''total'': value.value + 1}',
                     'event_id BIGINT, total DOUBLE') AS r
            FROM events_native) WHERE r IS NOT NULL
          ORDER BY r.event_id""")
      },
      Some("SELECT event_id, value + 1 AS total FROM events ORDER BY event_id")),

    // ---- jx10: `^()` order-by on the COMPILED tier (B20 as native Columns) ----
    // The expression sorts each embedding descending via the compiled
    // array_sort comparator (no interpreter, no JSON round-trip — pinned in
    // PlanShapeSpec); outputs probe the sorted array positionally so the
    // driver compare stays scalar (registry convention: no raw array columns
    // through the hasher — the ss06 precedent).
    Q("jx10_sorted_embedding",
      (s, d) => {
        val df = Tables.spread(t(s, d, "embeddings"))
        val out = JsonataDF.auto(df,
          "{'vec_id': value.vec_id, 'sorted': value.embedding^(>$)}",
          StructType.fromDDL("vec_id BIGINT, sorted ARRAY<FLOAT>"), topic = "embeddings")
        out.select(col("vec_id"),
            element_at(col("sorted"), 1).cast("double").as("top1"),
            element_at(col("sorted"), 2).cast("double").as("top2"),
            element_at(col("sorted"), size(col("sorted"))).cast("double").as("low"),
            size(col("sorted")).cast("bigint").as("dim"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH s AS (SELECT vec_id, list_sort(embedding, 'DESC') AS st FROM embeddings)
        SELECT vec_id, CAST(st[1] AS DOUBLE) AS top1, CAST(st[2] AS DOUBLE) AS top2,
          CAST(st[len(st)] AS DOUBLE) AS low, len(st) AS dim
        FROM s ORDER BY vec_id""")),

    // ---- jx11: $map/$filter inline lambdas on the COMPILED tier — native ----
    // ---- transform/filter inside whole-stage codegen (no interpreter,    ----
    // ---- pinned in PlanShapeSpec). The HOF results compose under the     ----
    // ---- compiled aggregates, which also makes the query immune to the   ----
    // ---- engine's singleton sequence collapse (aggregate of a scalar is  ----
    // ---- the identity).                                                  ----
    q("jx11_hof_lambda", "embeddings",
      "{'vec_id': value.vec_id, 'pos': $count($filter(value.embedding, function($x){ $x > 0 })), 'mx2': $max($map(value.embedding, function($x){ $x * 2 }))}",
      "vec_id BIGINT, pos BIGINT, mx2 DOUBLE",
      Seq("vec_id"),
      Some("""SELECT vec_id, len(list_filter(embedding, x -> x > 0)) AS pos,
        list_max(list_transform(embedding, x -> CAST(x AS DOUBLE) * 2)) AS mx2
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx12: $reduce with inline lambdas on the COMPILED tier — native ----
    // ---- aggregate() folds inside whole-stage codegen (no interpreter,   ----
    // ---- pinned in PlanShapeSpec): sum-of-squares and a conditional      ----
    // ---- counting fold over the embedding array.                         ----
    q("jx12_reduce_fold", "embeddings",
      "{'vec_id': value.vec_id, 'ss': $reduce(value.embedding, function($a, $x){ $a + $x * $x }, 0), " +
        "'n_pos': $reduce(value.embedding, function($a, $x){ $x > 0 ? $a + 1 : $a }, 0)}",
      "vec_id BIGINT, ss DOUBLE, n_pos BIGINT",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS ss,
          len(list_filter(embedding, x -> x > 0)) AS n_pos
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx13: $append/$distinct/$reverse on the COMPILED tier — native ----
    // ---- concat/array_distinct/reverse (no interpreter, pinned below).  ----
    // ---- Outputs compose under compiled aggregates, dodging the         ----
    // ---- singleton-collapse boundary like jx11.                         ----
    q("jx13_array_shufflers", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'sum2': $sum($append(value.embedding, $reverse(value.embedding))), " +
        "'n_decile': $count($distinct($map(value.embedding, function($x){ $floor($x * 10) })))}",
      "vec_id BIGINT, sum2 DOUBLE, n_decile BIGINT",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          list_sum(list_transform(embedding || list_reverse(embedding),
            x -> CAST(x AS DOUBLE))) AS sum2,
          len(list_distinct(list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 10) AS BIGINT)))) AS n_decile
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx14: object operators on the COMPILED tier — $keys/$sift/$each/ ----
    // ---- $lookup over the row struct as per-field keep flags (presence =  ----
    // ---- non-null: the envelope drops null fields, so a NULL column IS an ----
    // ---- absent key). Field-completeness audit shape: n_present counts    ----
    // ---- present keys, meta_keys joins a sifted key set, len_or_zero      ----
    // ---- folds a keyed $each — all native Columns, pinned interpreter-    ----
    // ---- free in PlanShapeSpec.                                           ----
    q("jx14_object_ops", "documents",
      "{'doc_id': value.doc_id, " +
        "'n_present': $count($keys(value)), " +
        "'n_meta': $count($keys($sift(value, function($v, $k){ $k in ['lang','source','n_chars'] }))), " +
        "'meta_keys': $join($keys($sift(value, function($v, $k){ $k != 'text' and $k != 'doc_id' })), ','), " +
        "'src': $lookup(value, 'source'), " +
        "'len_or_zero': $sum($each(value, function($v, $k){ $k = 'n_chars' ? $v : 0 }))}",
      "doc_id BIGINT, n_present BIGINT, n_meta BIGINT, meta_keys STRING, src STRING, len_or_zero BIGINT",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          CAST(doc_id IS NOT NULL AS BIGINT) + CAST(text IS NOT NULL AS BIGINT) +
            CAST(lang IS NOT NULL AS BIGINT) + CAST(source IS NOT NULL AS BIGINT) +
            CAST(n_chars IS NOT NULL AS BIGINT) AS n_present,
          CAST(lang IS NOT NULL AS BIGINT) + CAST(source IS NOT NULL AS BIGINT) +
            CAST(n_chars IS NOT NULL AS BIGINT) AS n_meta,
          concat_ws(',', CASE WHEN lang IS NOT NULL THEN 'lang' END,
            CASE WHEN source IS NOT NULL THEN 'source' END,
            CASE WHEN n_chars IS NOT NULL THEN 'n_chars' END) AS meta_keys,
          source AS src,
          COALESCE(n_chars, 0) AS len_or_zero
        FROM documents ORDER BY doc_id""")),

    // ---- jx15: $sort with an inline swap-comparator on the COMPILED tier ----
    // ---- (mirrored strict-comparison idiom → ^()-style explicit           ----
    // ---- comparator inside array_sort), composed under a compiled $filter ----
    // ---- — native Columns end-to-end, pinned in PlanShapeSpec. Probes are ----
    // ---- positional scalars (registry convention: no raw arrays through   ----
    // ---- the driver hasher).                                              ----
    Q("jx15_comparator_sort",
      (s, d) => {
        val df = Tables.spread(t(s, d, "embeddings"))
        val out = JsonataDF.auto(df,
          "{'vec_id': value.vec_id, 'srt': $sort($filter(value.embedding, " +
            "function($x){ $x > 0 }), function($l, $r){ $l > $r })}",
          StructType.fromDDL("vec_id BIGINT, srt ARRAY<FLOAT>"), topic = "embeddings")
        out.select(col("vec_id"),
            element_at(col("srt"), 1).cast("double").as("lo"),
            element_at(col("srt"), size(col("srt"))).cast("double").as("hi"),
            size(col("srt")).cast("bigint").as("n_pos"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH s AS (SELECT vec_id,
              list_sort(list_filter(embedding, x -> x > 0)) AS st FROM embeddings)
        SELECT vec_id, CAST(st[1] AS DOUBLE) AS lo,
          CAST(st[len(st)] AS DOUBLE) AS hi, len(st) AS n_pos
        FROM s ORDER BY vec_id""")),

    // ---- jx16: let-binding preamble on the COMPILED tier — named lambdas  ----
    // ---- defined once and passed to $filter/$map/$sort (the reference's   ----
    // ---- common configured-expression shape, cf. jx07's $dropText) inline ----
    // ---- at their call sites and the whole pipeline compiles to native    ----
    // ---- Columns. Probes positional scalars like jx15.                    ----
    Q("jx16_named_lambdas",
      (s, d) => {
        val df = Tables.spread(t(s, d, "embeddings"))
        val out = JsonataDF.auto(df,
          "($pos := function($x){ $x > 0 }; " +
            "$sq := function($x){ $x * $x }; " +
            "$asc := function($l, $r){ $l > $r }; " +
            "{'vec_id': value.vec_id, " +
            "'n_pos': $count($filter(value.embedding, $pos)), " +
            "'max_sq': $max($map(value.embedding, $sq)), " +
            "'srt': $sort($filter(value.embedding, $pos), $asc)})",
          StructType.fromDDL("vec_id BIGINT, n_pos BIGINT, max_sq DOUBLE, srt ARRAY<FLOAT>"),
          topic = "embeddings")
        out.select(col("vec_id"), col("n_pos"), col("max_sq"),
            element_at(col("srt"), 1).cast("double").as("min_pos"),
            element_at(col("srt"), size(col("srt"))).cast("double").as("max_pos"))
          .orderBy(col("vec_id"))
      },
      Some("""WITH s AS (SELECT vec_id,
              len(list_filter(embedding, x -> x > 0)) AS n_pos,
              list_max(list_transform(embedding, x -> CAST(x AS DOUBLE) * x)) AS max_sq,
              list_sort(list_filter(embedding, x -> x > 0)) AS st
            FROM embeddings)
        SELECT vec_id, n_pos, max_sq,
          CAST(st[1] AS DOUBLE) AS min_pos, CAST(st[len(st)] AS DOUBLE) AS max_pos
        FROM s ORDER BY vec_id""")),

    // ---- jx17: INDEXED lambdas ($v, $i) on the COMPILED tier — Spark's  ----
    // ---- indexed transform/filter overloads (0-based, matching the      ----
    // ---- engine's fMap/fFilter position argument). even_sum also walks  ----
    // ---- the undefined-drop path: the else-less conditional yields      ----
    // ---- undefined on odd positions and $map drops those items.        ----
    // ---- DuckDB's lambda index is 1-BASED — the oracle uses (i-1).      ----
    q("jx17_indexed_lambdas", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'even_sum': $sum($map(value.embedding, function($x, $i){ $i % 2 = 0 ? $x })), " +
        "'head_pos': $count($filter(value.embedding, function($x, $i){ $i < 8 and $x > 0 }))}",
      "vec_id BIGINT, even_sum DOUBLE, head_pos BIGINT",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          list_sum(list_transform(list_filter(embedding, (x, i) -> (i - 1) % 2 = 0),
            x -> CAST(x AS DOUBLE))) AS even_sum,
          len(list_filter(embedding, (x, i) -> (i - 1) < 8 AND x > 0)) AS head_pos
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx18: regex builtins on the COMPILED tier — $match through the  ----
    // ---- native match-all kernel (graft.spark.RegexMatchAll), $replace/  ----
    // ---- $contains/$split via regexp_replace/RLIKE/split — all inside    ----
    // ---- whole-stage codegen (interpreter-free, pinned by PlanShapeSpec). ----
    // ---- Patterns stay in the Java/RE2 common subset so DuckDB is an     ----
    // ---- exact oracle.                                                   ----
    q("jx18_regex_ops", "documents",
      "{'doc_id': value.doc_id, " +
        "'n_words': $count($match(value.text, /[A-Za-z]+/)), " +
        "'clean': $replace($substring(value.text, 0, 50), /[aeiou]/, '_'), " +
        "'swapped': $replace(value.lang, /(.)(.)/, '$2$1'), " +
        "'has_digit': $contains(value.text, /[0-9]/), " +
        "'head': $join($split(value.text, /[ ]+/, 4), '|')}",
      "doc_id BIGINT, n_words BIGINT, clean STRING, swapped STRING, has_digit BOOLEAN, head STRING",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          len(regexp_extract_all(text, '[A-Za-z]+')) AS n_words,
          regexp_replace(substring(text, 1, 50), '[aeiou]', '_', 'g') AS clean,
          regexp_replace(lang, '(.)(.)', '\2\1', 'g') AS swapped,
          regexp_matches(text, '[0-9]') AS has_digit,
          array_to_string(string_split_regex(text, '[ ]+')[1:4], '|') AS head
        FROM documents ORDER BY doc_id""")),

    // ---- jx19: arity-3 lambdas on the COMPILED tier — $a binds the whole ----
    // ---- operand array, so bodies can be ARRAY-RELATIVE (above-average   ----
    // ---- filters, max-centering) without a preamble binding. Also rides  ----
    // ---- the round-8 negative-literal path ($substring tail slice).      ----
    q("jx19_array_relative", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'n_above': $count($filter(value.embedding, function($x, $i, $a){ $x > $average($a) })), " +
        "'spread_sum': $sum($map(value.embedding, function($x, $i, $a){ $x - $min($a) }))}",
      "vec_id BIGINT, n_above BIGINT, spread_sum DOUBLE",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          len(list_filter(embedding, x -> x > list_avg(list_transform(embedding,
            e -> CAST(e AS DOUBLE))))) AS n_above,
          list_sum(list_transform(embedding,
            x -> CAST(x AS DOUBLE) - list_min(embedding))) AS spread_sum
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx20: datetime builtins on the COMPILED tier — default/pictured/  ----
    // ---- zoned $fromMillis via date_format (picture translated to a Spark ----
    // ---- pattern at compile time, fixed-offset zones shifted statically)  ----
    // ---- and $toMillis via the regex-gated to_timestamp parse — all       ----
    // ---- interpreter-free (PlanShapeSpec) and range-guarded (the ANSI     ----
    // ---- timestamp overflow class is NULLed, never crashed).              ----
    q("jx20_datetime", "documents",
      "{'doc_id': value.doc_id, " +
        "'iso': $fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000), " +
        "'ymd': $fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000, '[Y0001]-[M01]-[D01]'), " +
        "'nice': $fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000, '[FNn,3], [D] [MNn] [Y0001] [h]:[m] [PN]'), " +
        "'ist': $fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000, '[Y0001]-[M01]-[D01] [H01]:[m][Z01:01t]', '+0530'), " +
        "'rt': $toMillis($fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000)), " +
        "'day_ms': $toMillis($fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000, '[Y0001]-[M01]-[D01]')), " +
        "'sec_ms': $toMillis($fromMillis(value.doc_id * 86400000 + value.n_chars * 12345 + 1500000000000, '[Y0001]-[M01]-[D01] [H01]:[m]:[s]'), '[Y0001]-[M01]-[D01] [H01]:[m]:[s]')}",
      "doc_id BIGINT, iso STRING, ymd STRING, nice STRING, ist STRING, rt BIGINT, day_ms BIGINT, sec_ms BIGINT",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          strftime(epoch_ms(doc_id*86400000 + n_chars*12345 + 1500000000000), '%Y-%m-%dT%H:%M:%S.%g') || 'Z' AS iso,
          strftime(epoch_ms(doc_id*86400000 + n_chars*12345 + 1500000000000), '%Y-%m-%d') AS ymd,
          strftime(epoch_ms(doc_id*86400000 + n_chars*12345 + 1500000000000), '%a, %-d %B %Y %-I:%M %p') AS nice,
          strftime(epoch_ms(doc_id*86400000 + n_chars*12345 + 1500000000000 + 19800000), '%Y-%m-%d %H:%M') || '+05:30' AS ist,
          doc_id*86400000 + n_chars*12345 + 1500000000000 AS rt,
          epoch_ms(date_trunc('day', epoch_ms(doc_id*86400000 + n_chars*12345 + 1500000000000))) AS day_ms,
          ((doc_id*86400000 + n_chars*12345 + 1500000000000) // 1000) * 1000 AS sec_ms
        FROM documents ORDER BY doc_id""")),

    // ---- jx21: multi-pair {} group-by on the COMPILED tier — the "object  ----
    // ---- of named aggregates" shape with literal keys (D1009-free by      ----
    // ---- static distinctness). Scalarized through compiled map-$lookup    ----
    // ---- (registry convention: no raw maps through the driver hasher).    ----
    q("jx21_multi_group", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'n': $lookup(value.embedding{'n': $count($), 'avg': $average($)}, 'n'), " +
        "'avg': $lookup(value.embedding{'n': $count($), 'avg': $average($)}, 'avg'), " +
        "'spread': $lookup(value.embedding{'hi': $max($), 'lo': $min($)}, 'hi') - " +
        "$lookup(value.embedding{'hi': $max($), 'lo': $min($)}, 'lo')}",
      "vec_id BIGINT, n DOUBLE, avg DOUBLE, spread DOUBLE",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          CAST(len(embedding) AS DOUBLE) AS n,
          list_avg(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS avg,
          CAST(list_max(embedding) AS DOUBLE) - CAST(list_min(embedding) AS DOUBLE) AS spread
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx22: arity-3 map-$sift on the COMPILED tier with a driver       ----
    // ---- oracle — $o binds the whole map object (built by the multi-pair  ----
    // ---- group-by above), and the $o-only average is HOISTED once per row ----
    // ---- (round-9 invariant hoisting). Scalarized via $count/$join of     ----
    // ---- the surviving keys.                                              ----
    q("jx22_map_sift", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'n_major': $count($keys($sift(" +
        "value.embedding{'hi': $max($), 'lo': $min($), 'avg': $average($)}, " +
        "function($v, $k, $o){ $v >= $lookup($o, 'avg') }))), " +
        "'major_keys': $join($keys($sift(" +
        "value.embedding{'hi': $max($), 'lo': $min($), 'avg': $average($)}, " +
        "function($v, $k, $o){ $v >= $lookup($o, 'avg') })), ',')}",
      "vec_id BIGINT, n_major BIGINT, major_keys STRING",
      Seq("vec_id"),
      Some("""WITH stats AS (
          SELECT vec_id,
            CAST(list_max(embedding) AS DOUBLE) AS hi,
            CAST(list_min(embedding) AS DOUBLE) AS lo,
            list_avg(list_transform(embedding, x -> CAST(x AS DOUBLE))) AS avg
          FROM embeddings)
        SELECT vec_id,
          CAST(CAST(hi >= avg AS INT) + CAST(lo >= avg AS INT) + CAST(avg >= avg AS INT) AS BIGINT) AS n_major,
          concat_ws(',', CASE WHEN hi >= avg THEN 'hi' END,
            CASE WHEN lo >= avg THEN 'lo' END,
            CASE WHEN avg >= avg THEN 'avg' END) AS major_keys
        FROM stats ORDER BY vec_id""")),

    // ---- jx23: bracket predicates + indexes on the COMPILED tier (B2/B3, ----
    // ---- the language's most common idiom): boolean predicates ->        ----
    // ---- native array filter with the per-item context bound, integral   ----
    // ---- indexes -> get() with negative wrap and undefined out-of-range, ----
    // ---- chained stages left-to-right, survivor-less = undefined.        ----
    // (outputs are null-free by construction — the driver hasher reads float
    // NULL as NaN and NaN != NaN, so undefined-able probes ride behind
    // $exists ternaries / $count; the undefined corners themselves are
    // pinned in DifferentialSpec)
    q("jx23_predicates", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'n_pos': $count(value.embedding[$ > 0]), " +
        "'head0': value.embedding[0], " +
        "'tail0': value.embedding[-1], " +
        "'n_band': $count(value.embedding[$ > 0.05][$ < 0.2]), " +
        "'first_pos': $exists(value.embedding[$ > 0][0]) ? " +
        "value.embedding[$ > 0][0] * 1 : 0.0}",
      "vec_id BIGINT, n_pos BIGINT, head0 DOUBLE, tail0 DOUBLE, n_band BIGINT, first_pos DOUBLE",
      Seq("vec_id"),
      Some("""SELECT vec_id,
          len(list_filter(embedding, x -> x > 0)) AS n_pos,
          CAST(embedding[1] AS DOUBLE) AS head0,
          CAST(embedding[-1] AS DOUBLE) AS tail0,
          len(list_filter(embedding, x -> x > 0.05 AND x < 0.2)) AS n_band,
          CAST(COALESCE(list_filter(embedding, x -> x > 0)[1], 0) AS DOUBLE) AS first_pos
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx24: stages on NON-PATH bases + string truthiness on the       ----
    // ---- COMPILED tier (round 9): `$split(..)[pred]` routes the shared    ----
    // ---- FilterStage machinery over a compiled call result — string-     ----
    // ---- truthiness predicates ($ = non-empty keeps), boolean predicates ----
    // ---- with $ context, and index collapse, all inside whole-stage      ----
    // ---- codegen. last_long rides behind a ternary so the output is      ----
    // ---- null-free (the jx23 driver-hasher convention).                  ----
    q("jx24_filtered_calls", "documents",
      "{'doc_id': value.doc_id, " +
        "'n_words': $count($split(value.text, ' ')[$]), " +
        "'n_long': $count($split(value.text, ' ')[$length($) > 4]), " +
        "'first_word': $split(value.text, ' ')[0], " +
        "'last_long': $exists($split(value.text, ' ')[$length($) > 4][-1]) ? " +
        "$split(value.text, ' ')[$length($) > 4][-1] : ''}",
      "doc_id BIGINT, n_words BIGINT, n_long BIGINT, first_word STRING, last_long STRING",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          len(list_filter(string_split(text, ' '), x -> x != '')) AS n_words,
          len(list_filter(string_split(text, ' '), x -> len(x) > 4)) AS n_long,
          string_split(text, ' ')[1] AS first_word,
          COALESCE(list_filter(string_split(text, ' '), x -> len(x) > 4)[-1], '') AS last_long
        FROM documents ORDER BY doc_id""")),

    // ---- jx25: inverted tombstone — `cond ? null : {obj}`, the reference ----
    // ---- README's authoring polarity (compiled: keep on NOT-truthy)      ----
    q("jx25_inverted_tombstone", "documents",
      "value.lang = 'en' ? null : {'doc_id': value.doc_id, 'lang': value.lang, " +
        "'n100': value.n_chars > 100}",
      "doc_id BIGINT, lang STRING, n100 BOOLEAN",
      Seq("doc_id"),
      Some("""SELECT doc_id, lang, n_chars > 100 AS n100 FROM documents
        WHERE lang <> 'en' ORDER BY doc_id""")),

    // ---- jx26: parenthesized subexpressions on the COMPILED tier — the ----
    // ---- `(e)` single-expression-Block transparency the fuzzer forced  ----
    q("jx26_paren_math", "orders",
      "{'orderkey': value.o_orderkey, " +
        "'m': ((value.o_totalprice * 2) - (value.o_totalprice + 1000)), " +
        "'band': (value.o_totalprice > 150000) ? 'hi' : 'lo', " +
        "'odd': (($floor(value.o_orderkey) % 2) = 1)}",
      "orderkey BIGINT, m DOUBLE, band STRING, odd BOOLEAN",
      Seq("orderkey"),
      Some("""SELECT o_orderkey AS orderkey,
          (o_totalprice * 2) - (o_totalprice + 1000) AS m,
          CASE WHEN o_totalprice > 150000 THEN 'hi' ELSE 'lo' END AS band,
          (CAST(floor(o_orderkey) AS BIGINT) % 2) = 1 AS odd
        FROM orders ORDER BY orderkey""")),

    // ---- jx27: $single on the COMPILED tier — native filter + exactly-  ----
    // ---- one guard (zero/multi matches raise with the engine's D3139/   ----
    // ---- D3138 codes; DifferentialSpec pins both raise paths and the    ----
    // ---- non-boolean-body fallback). The index-equality predicate       ----
    // ---- guarantees exactly one match per row, so the registry row      ----
    // ---- stays oracle-exact.                                            ----
    q("jx27_single", "embeddings",
      "{'vec_id': value.vec_id, " +
        "'x3': $single(value.embedding, function($x, $i){ $i = 3 }), " +
        "'first': $single(value.embedding, function($x, $i, $a){ $x = $a[0] and $i = 0 })}",
      "vec_id BIGINT, x3 DOUBLE, first DOUBLE",
      Seq("vec_id"),
      Some("""SELECT vec_id, CAST(embedding[4] AS DOUBLE) AS x3,
          CAST(embedding[1] AS DOUBLE) AS first
        FROM embeddings ORDER BY vec_id""")),

    // ---- jx28: function-valued $replace on the COMPILED tier — the      ----
    // ---- split-stitch + RegexMatchAll form (lambda body over the match  ----
    // ---- struct; group refs via the round-10 staged lambda paths). The  ----
    // ---- lambdas here are template-expressible so DuckDB's backref      ----
    // ---- regexp_replace replays them exactly.                           ----
    q("jx28_replace_lambda", "documents",
      "{'doc_id': value.doc_id, " +
        "'sw': $replace(value.text, /([ao])([rn])/, function($m){ $m.groups[1] & $m.groups[0] }), " +
        "'tagged': $replace(value.lang, /([aeiou])/, function($m){ '<' & $m.match & '>' })}",
      "doc_id BIGINT, sw STRING, tagged STRING",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          regexp_replace(text, '([ao])([rn])', '\2\1', 'g') AS sw,
          regexp_replace(lang, '([aeiou])', '<\1>', 'g') AS tagged
        FROM documents ORDER BY doc_id""")),

    // ---- jx29: `~>` function chains on the COMPILED tier — builtin       ----
    // ---- chains, a bound-lambda stage (inlined then beta-applied), and   ----
    // ---- single-`?` partial application (round-11 ApplyOp lambda/        ----
    // ---- placeholder cases; DifferentialSpec pins the fallback shapes:   ----
    // ---- multi-`?`, typed signatures, arity-2, context-reading bodies).  ----
    q("jx29_apply_chain", "documents",
      "($clip := function($s){$substring($s, 0, 12)}; " +
        "{'doc_id': value.doc_id, " +
        "'head': value.text ~> $clip ~> $uppercase, " +
        "'padded': value.lang ~> $pad(?, 5, '.'), " +
        "'toklen': value.text ~> $split(' ') ~> $count, " +
        "'scaled': value.n_chars ~> function($v){$v * 2 + 1}})",
      "doc_id BIGINT, head STRING, padded STRING, toklen BIGINT, scaled BIGINT",
      Seq("doc_id"),
      Some("""SELECT doc_id,
          upper(substr(text, 1, 12)) AS head,
          rpad(lang, 5, '.') AS padded,
          len(string_split(text, ' ')) AS toklen,
          n_chars * 2 + 1 AS scaled
        FROM documents ORDER BY doc_id""")),

    // ---- jx30: transform `|...|...|` object patching on the COMPILED tier ----
    // ---- (B22, round-11 ApplyOp/TransformExpr case): in-place patch, a   ----
    // ---- new appended key, and a delete, all in one expression. The      ----
    // ---- update evaluates ONCE against the PRE-mutation match (quality   ----
    // ---- reads the ORIGINAL n_chars while n_chars patches to +1); the    ----
    // ---- deleted key decodes as the declared column's NULL. Fallback     ----
    // ---- boundary (raising/fan-out/dynamic shapes) pinned in             ----
    // ---- DifferentialSpec; grammar coverage in FuzzDifferentialSpec.     ----
    q("jx30_record_patch", "documents",
      "value ~> |$|{'lang': $uppercase(lang), " +
        "'quality': n_chars > 500 ? 'long' : 'short', " +
        "'n_chars': n_chars + 1}, 'text'|",
      "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT, quality STRING",
      Seq("doc_id"),
      Some("""SELECT doc_id, CAST(NULL AS VARCHAR) AS text, upper(lang) AS lang,
          source, n_chars + 1 AS n_chars,
          CASE WHEN n_chars > 500 THEN 'long' ELSE 'short' END AS quality
        FROM documents ORDER BY doc_id""")),

    // ---- jx31: the round-11 compiled forms through the DRIVER gate on a ----
    // ---- NESTED input (the flat driver tables reshaped into structs/    ----
    // ---- arrays in-plan): a nested-pattern transform patch + delete, a  ----
    // ---- `**` descendant count over a variable-length array, and a `%`  ----
    // ---- parent reference filtering an array by a sibling row field.    ----
    // ---- PlanShapeSpec pins the whole expression on the compiled tier.  ----
    Q("jx31_nested_forms",
      (s, d) => {
        // NaN-clean the measure at the SOURCE (sf0.1 carries a few NaN
        // values): NaN != NaN in the driver's float compare — the q21/dd12
        // sentinel lesson — and the oracle applies the same cleaning
        val v0 = nanvl(col("value"), lit(0.0))
        val base = Tables.spread(t(s, d, "events")).select(
          col("event_id"),
          struct(col("event_type").as("et"), v0.as("v")).as("meta"),
          when(col("event_type") === "click",
            array(struct(v0.as("p")),
              struct((v0 * 2).as("p")),
              struct(lit(100.0).as("p"))))
            .otherwise(array(struct(v0.as("p")),
              struct((v0 * 2).as("p")))).as("items"),
          v0.as("thr"))
        val out = JsonataDF.auto(base,
          "{'event_id': value.event_id, " +
            "'vx': (value ~> |meta|{'vx': v * 2}|).meta.vx, " +
            "'tag': (value ~> |meta|{'tag': $uppercase(et)}, 'v'|).meta.tag, " +
            "'nv': $count(value.**.p), " +
            // `>=` keeps p1 (= thr) in every row's survivor set, so the max
            // is never the undefined empty-sum — a nullable double output
            // would NaN-poison the driver's float compare (the dd12/q21
            // sentinel lesson, re-learned here on 5 sf0.1 rows)
            "'hi': $max(value.items[p >= %.thr].p)}",
          StructType.fromDDL("event_id BIGINT, vx DOUBLE, tag STRING, nv BIGINT, hi DOUBLE"),
          topic = "events")
        out.orderBy(col("event_id"))
      },
      Some("""WITH e AS (SELECT event_id, event_type,
              CASE WHEN isnan(value) THEN 0.0 ELSE value END AS v0 FROM events)
        SELECT event_id,
          v0 * 2 AS vx,
          upper(event_type) AS tag,
          CAST(CASE WHEN event_type = 'click' THEN 3 ELSE 2 END AS BIGINT) AS nv,
          -- max survivor of p >= thr among the constructed items: p1 = v0
          -- ALWAYS survives (v0 >= v0), p2 = 2*v0 iff v0 >= 0, the
          -- click-only p3 = 100.0 iff 100 >= v0 — never empty, never NULL
          greatest(v0,
            CASE WHEN v0 * 2 >= v0 THEN v0 * 2 ELSE v0 END,
            CASE WHEN event_type = 'click' AND 100.0 >= v0 THEN 100.0 ELSE v0 END) AS hi
        FROM e ORDER BY event_id""")),

    // ---- jx32: the `*` wildcard on the COMPILED tier (B4, round-12) over ----
    // ---- a NESTED reshape of a driver table: numeric struct with an      ----
    // ---- array splice, string struct through $join, and an array-of-     ----
    // ---- struct base mapping the field enumeration per element.          ----
    // ---- PlanShapeSpec pins the interpreter-free plan; the fallback      ----
    // ---- boundary + null classes live in DifferentialSpec/Fuzz.          ----
    Q("jx32_wildcard",
      (s, d) => {
        val base = Tables.spread(t(s, d, "documents")).select(
          col("doc_id"),
          struct(col("n_chars").as("a"),
            array(col("n_chars") * 2, lit(7L)).as("xs")).as("m"),
          struct(col("lang").as("t"), col("source").as("u")).as("st"),
          array(struct(col("n_chars").as("p"), lit(1L).as("q")),
            struct((col("n_chars") + 5).as("p"), lit(2L).as("q"))).as("items"))
        val out = JsonataDF.auto(base,
          "{'doc_id': value.doc_id, " +
            "'nv': $count(value.m.*), " +
            "'tot': $sum(value.m.*), " +
            "'tags': $join(value.st.*, '-'), " +
            "'itot': $sum(value.items.*)}",
          StructType.fromDDL("doc_id BIGINT, nv BIGINT, tot BIGINT, tags STRING, itot BIGINT"),
          topic = "documents")
        out.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          CAST(3 AS BIGINT) AS nv,
          n_chars + n_chars * 2 + 7 AS tot,
          lang || '-' || source AS tags,
          n_chars + 1 + n_chars + 5 + 2 AS itot
        FROM documents ORDER BY doc_id""")),

    // ---- jx33: tuple-stream binds (B25) through the DRIVER gate — the   ----
    // ---- positional bind `#$i` (pre-filter index stamping: survivors    ----
    // ---- keep their ORIGINAL positions) and the context bind `@$v`      ----
    // ---- (the spec's join idiom: the focus stays at the step's input,   ----
    // ---- so `value.dims@$d.items[...]` cross-joins dims against items   ----
    // ---- from the common parent). Interpreted tier by design — these    ----
    // ---- forms are tuple-stream-only (JsonataCompiler rejects them);    ----
    // ---- the point is the exact DuckDB oracle, the one §2.B operator    ----
    // ---- that previously rested on ConformanceSpec alone.               ----
    Q("jx33_tuple_binds",
      (s, d) => {
        val base = Tables.spread(t(s, d, "documents")).select(
          col("doc_id"),
          // item order is load-bearing: position weights 0/1/2 make the
          // PRE-filter index observable through pos_sum, and position 0
          // (v = 5) always survives [v >= 5], so the sum is never the
          // undefined empty sequence (the jx31 nullable-double lesson)
          array(struct(lit("a").as("k"), lit(5L).as("v")),
            struct(lit("b").as("k"), col("n_chars").as("v")),
            struct(lit("a").as("k"), (col("n_chars") * 2).as("v"))).as("items"),
          array(struct(lit("a").as("ref"), col("lang").as("tag")),
            struct(lit("b").as("ref"), col("source").as("tag"))).as("dims"))
        val out = JsonataDF.auto(base,
          "{'doc_id': value.doc_id, " +
            "'pos_sum': $sum(value.items#$i[v >= 5].($i)), " +
            "'iseq': $join(value.items#$i.($string($i) & k), ''), " +
            "'tags': $join(value.dims@$d.items[k = $d.ref].($d.tag & ':' & $string(v)), ',')}",
          StructType.fromDDL("doc_id BIGINT, pos_sum BIGINT, iseq STRING, tags STRING"),
          topic = "documents")
        out.orderBy(col("doc_id"))
      },
      Some("""SELECT doc_id,
          -- pre-filter positions surviving [v >= 5]: pos 0 (v=5) always,
          -- pos 1 iff n_chars >= 5, pos 2 iff n_chars*2 >= 5
          CAST((CASE WHEN n_chars >= 5 THEN 1 ELSE 0 END)
             + (CASE WHEN n_chars * 2 >= 5 THEN 2 ELSE 0 END) AS BIGINT) AS pos_sum,
          '0a1b2a' AS iseq,
          -- dims-major, items-minor cross-join order: (a,lang) matches
          -- items 0 and 2, (b,source) matches item 1
          lang || ':5,' || lang || ':' || CAST(n_chars * 2 AS VARCHAR)
            || ',' || source || ':' || CAST(n_chars AS VARCHAR) AS tags
        FROM documents ORDER BY doc_id""")),

    // ---- jx06: same operator through SQL `jsonata` over JSON text: the  ----
    // ---- native evaluator with a string input (the name is historical) ----
    // explode(array(..)) keeps the optimizer from copying the call into the
    // pushed-down `r IS NOT NULL` filter: one evaluation per record.
    Q("jx06_sql_udf",
      (s, d) => {
        graft.spark.JsonataFunctions.registerNativeSql(s)
        val df = Tables.spread(t(s, d, "events"))
        df.createOrReplaceTempView("events_raw")
        s.sql("""
          SELECT r.event_id, r.total FROM (
            SELECT explode(array(from_json(jsonata(to_json(named_struct('value',
                     named_struct('event_id', event_id, 'value', value))),
                   '{''event_id'': value.event_id, ''total'': value.value + 1}'),
                   'event_id BIGINT, total DOUBLE'))) AS r
            FROM events_raw) WHERE r IS NOT NULL
          ORDER BY r.event_id""")
      },
      Some("SELECT event_id, value + 1 AS total FROM events ORDER BY event_id"))
  )
}
