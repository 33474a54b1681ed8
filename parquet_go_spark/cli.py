"""Command-line driver (reference ``cmd/parquet-tool`` + ``csv2parquet``
analogue, SURVEY.md §2 O17) — the ``spark-submit --py-files`` entry point:

    spark-submit --py-files parquet_go_spark.zip -m parquet_go_spark encode ...

Subcommands:
  encode     parquet table -> encoded chunk dir + manifest (resumable)
  decode     encoded dir -> parquet table (column projection, CRC check)
  meta       print per-column manifest summary (parquet-tool meta)
  gen-pages  write the deterministic synthetic pages table
  verify     byte-identity check input vs encoded dir (per-key)
  compact    rewrite small encoded tables into right-sized partitions
"""

from __future__ import annotations

import argparse
import json
import sys


def _spark(args):
    from .spark.session import get_spark

    return get_spark(cores=args.cpus)


# csv2parquet type-hint vocabulary (cmd/csv2parquet/main.go:196-281) →
# Spark cast targets; unhinted columns stay string, unsigned types widen
# to the next signed carrier (uint64 → decimal(20,0)).
_CSV_TYPE_HINTS = {
    "string": "string",
    "json": "string",
    "byte_array": "binary",
    "boolean": "boolean",
    "int8": "tinyint",
    "uint8": "smallint",
    "int16": "smallint",
    "uint16": "int",
    "int32": "int",
    "int": "int",
    "uint32": "bigint",
    "int64": "bigint",
    "uint64": "decimal(20,0)",
    "float": "float",
    "double": "double",
}


def _read_input(spark, args):
    """Read the encode input: parquet (default) or CSV with optional
    per-column type hints (the reference's csv2parquet ingestion,
    ``cmd/csv2parquet/main.go``)."""
    if args.input_format == "parquet":
        return spark.read.parquet(args.input)
    from pyspark.sql import functions as F

    hints = {}
    for kv in (args.typehints or "").split(","):
        if not kv:
            continue
        name, _, typ = kv.partition("=")
        typ = typ.strip().lower()
        if typ not in _CSV_TYPE_HINTS:
            raise SystemExit(
                f"invalid type hint {kv!r}; valid types: {', '.join(sorted(_CSV_TYPE_HINTS))}"
            )
        hints[name.strip()] = _CSV_TYPE_HINTS[typ]
    df = spark.read.options(header=True, sep=args.delimiter, inferSchema=False).csv(args.input)
    unknown = set(hints) - set(df.columns)
    if unknown:
        raise SystemExit(f"type hints for columns not in the CSV header: {sorted(unknown)}")
    return df.select(
        *[F.col(c).cast(hints.get(c, "string")).alias(c) for c in df.columns]
    )


def cmd_encode(args) -> int:
    spark = _spark(args)
    df = _read_input(spark, args)
    if args.append and args.format == "parquet":
        p_err = "--append is supported for the chunks format only"
        print(json.dumps({"error": p_err}), file=sys.stderr)
        return 2
    kv_meta = None
    if args.kv:
        kv_meta = {}
        for kv in args.kv:
            k, eq, v = kv.partition("=")
            if not eq:
                print(f"--kv expects key=value, got {kv!r}", file=sys.stderr)
                return 2
            kv_meta[k] = v
    if args.format == "parquet":
        from .spark.parquet_sink import encode_table_parquet

        man = encode_table_parquet(
            df,
            args.out,
            key_col=args.key_col,
            partitions=args.partitions,
            compression=args.compression,
            resume=not args.no_resume,
            page_index=args.page_index,
            bloom_columns=args.bloom_columns.split(",") if args.bloom_columns else None,
            kv_metadata=kv_meta,
        ).collect()
    else:
        from .spark.encode_job import encode_table

        key_col = args.key_col
        if key_col and "," in key_col:
            key_col = [c.strip() for c in key_col.split(",")]
        man = encode_table(
            df,
            args.out,
            key_col=key_col,
            partitions=args.partitions,
            layout=args.layout,
            profile=args.profile,
            compression=args.compression,
            resume=not args.no_resume,
            append=args.append,
            page_crc=args.page_crc,
            page_stats=args.page_stats,
            sort_within=args.sort_within.split(",") if args.sort_within else None,
            bloom_columns=args.bloom_columns.split(",") if args.bloom_columns else None,
            kmv_columns=args.kmv_columns.split(",") if args.kmv_columns else None,
            encodings=(
                dict(kv.split("=", 1) for kv in args.encodings.split(","))
                if args.encodings
                else None
            ),
            message_schema=(open(args.message_schema).read() if args.message_schema else None),
        ).collect()
    raw = sum(r["raw_bytes"] for r in man)
    enc = sum(r["encoded_bytes"] for r in man)
    from .spark import manifest as mf

    snap = mf.commit_snapshot(
        args.out,
        "encode",
        {
            "key_col": args.key_col,
            "partitions": args.partitions,
            "layout": getattr(args, "layout", None),
            "profile": getattr(args, "profile", None),
            "compression": args.compression,
            "format": args.format,
        },
    )
    print(
        json.dumps(
            {
                "partitions": len({r["partition"] for r in man}),
                "rows": sum(r["num_rows"] for r in man if man and r["column"] == man[0]["column"]),
                "raw_bytes": raw,
                "encoded_bytes": enc,
                "ratio": round(raw / max(enc, 1), 4),
                "snapshot": snap["seq"],
            }
        )
    )
    return 0


def _parse_where(wheres: list[str]) -> list[tuple]:
    """col:op:value triples -> prune predicates over ``core.prune.OPS``;
    values parse as int/float when possible. Unknown ops are REJECTED
    here, before any prune tier or exact re-apply sees them."""
    from .core.prune import OPS

    predicate = []
    for w in wheres:
        col, op, raw = w.split(":", 2)
        if op not in OPS:
            raise SystemExit(f"--where op {op!r} not supported (use one of {', '.join(sorted(OPS))})")
        val: object = raw
        try:
            val = int(raw)
        except ValueError:
            try:
                val = float(raw)
            except ValueError:
                pass
        predicate.append((col, op, val))
    return predicate


def _load_table(spark, args):
    """Route --input-format: 'pgs' = this engine's encoded dirs,
    'parquet' = real .parquet through the kernel scan
    (parquet-tool's ability to open any Parquet file,
    ``cmd/parquet-tool/cmds``). ``--where`` predicates feed every prune
    tier the source supports (manifest stats/blooms/page stats for pgs;
    footer stats/blooms/dictionaries/PageIndex for parquet) and are then
    re-applied exactly."""
    from pyspark.sql import functions as F

    from .core.prune import COMPARE

    cols = args.columns.split(",") if args.columns else None
    prune = _parse_where(args.where) if getattr(args, "where", None) else None
    as_of = getattr(args, "as_of", None)
    if as_of is None and getattr(args, "as_of_ts", None) is not None:
        from .spark import manifest as mf

        # Iceberg TIMESTAMP AS OF: resolve the instant to its snapshot
        as_of = mf.seq_as_of_timestamp(args.enc, args.as_of_ts)
    if getattr(args, "input_format", "pgs") == "parquet":
        from .spark.parquet_source import read_parquet_table

        df = read_parquet_table(spark, args.enc, columns=cols, prune=prune)
    elif getattr(args, "changes_from", None) is not None:
        from .spark.decode_job import read_changes

        df = read_changes(
            spark,
            args.enc,
            from_seq=args.changes_from,
            to_seq=as_of,
            columns=cols,
            prune=prune,
        )
    else:
        from .spark.decode_job import decode_table

        df = decode_table(
            spark,
            args.enc,
            columns=cols,
            validate_crc=getattr(args, "validate_crc", False),
            as_of=as_of,
            prune=prune,
        )
    # pruning is conservative, the re-apply is the EXACT filter, with
    # the comparison operators of the prune tiers' own op table
    for col, op, val in prune or []:
        c = F.col(col)
        if op == "in":
            cond = c.isin(list(val) if isinstance(val, (list, tuple)) else [val])
        elif op == "notnull":
            cond = c.isNotNull()
        else:
            cond = COMPARE[op][0](c, val)
        df = df.where(cond)
    return df


def cmd_decode(args) -> int:
    spark = _spark(args)

    df = _load_table(spark, args)
    df.write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": spark.read.parquet(args.out).count(), "out": args.out}))
    return 0


def _parquet_meta(path: str) -> int:
    """Footer-only metadata dump for real .parquet files (tail preads,
    no data pages): per row group and column chunk — encodings, sizes,
    stats, and which prune structures the writer stored (PageIndex,
    bloom filter, fully-dict encoding_stats)."""
    from .compat.dict_filter import all_data_pages_dict
    from .core.prune import footer_leaf, footer_zone
    from .compat.parquet_reader import file_meta_path
    from .spark.parquet_source import _list_files

    enc_names = {
        0: "plain", 2: "plain_dict", 3: "rle", 4: "bitpack",
        5: "delta_bp", 6: "delta_length", 7: "delta_bytes",
        8: "rle_dict", 9: "bss",
    }
    for f in _list_files(path):
        meta = file_meta_path(f)
        rgs = meta.get(4) or []
        print(json.dumps({"file": f, "rows": meta.get(3), "row_groups": len(rgs)}))
        for rgi, rg in enumerate(rgs):
            for cc in rg[1]:
                md = cc.get(3)
                if md is None:
                    continue
                top = md[3][0].decode() if len(md[3]) == 1 else None
                zone = footer_zone(md, top and footer_leaf(meta.get(2), top))
                row = {
                    "rg": rgi,
                    "column": b".".join(md[3]).decode(),
                    "codec": {0: "none", 1: "snappy", 2: "gzip", 6: "zstd"}.get(md[4], md[4]),
                    "values": md[5],
                    "bytes": md[7],
                    "encodings": [enc_names.get(e, e) for e in md[2]],
                    "nulls": zone.null_count,
                    "min": repr(zone.lo),
                    "max": repr(zone.hi),
                    "page_index": 6 in cc and 4 in cc,
                    "bloom": 14 in md,
                    "dict_complete": all_data_pages_dict(md),
                }
                print(json.dumps(row))
    return 0


def cmd_meta(args) -> int:
    if getattr(args, "input_format", "pgs") == "parquet":
        return _parquet_meta(args.enc)
    spark = _spark(args)
    from pyspark.sql import functions as F

    from .spark import manifest as mf

    man = mf.read_manifest(spark, args.enc)
    man.groupBy("column", "ptype", "encoding", "compression").agg(
        F.count("*").alias("chunks"),
        F.sum("num_rows").alias("rows"),
        F.sum("null_count").alias("nulls"),
        F.sum("raw_bytes").alias("raw"),
        F.sum("encoded_bytes").alias("encoded"),
        F.min("min_str").alias("min"),
        F.max("max_str").alias("max"),
    ).orderBy("column", "encoding").show(1000, truncate=24)
    return 0


def cmd_gen_pages(args) -> int:
    spark = _spark(args)
    from .spark.pages_table import pages_df

    pages_df(spark, args.rows).write.mode("overwrite").parquet(args.out)
    print(json.dumps({"rows": args.rows, "out": args.out}))
    return 0


def cmd_head(args) -> int:
    """First N rows of an encoded table as JSON lines (parquet-tool
    cat/head analogue, cmd/parquet-tool/cmds)."""
    spark = _spark(args)

    df = _load_table(spark, args)
    for row in df.limit(args.n).collect():
        print(json.dumps(row.asDict(), default=str))
    return 0


def _add_version_flags(p) -> None:
    """Table-version selectors shared by the row-reading subcommands
    (decode/head/cat): snapshot time travel by seq or wall clock, and
    the incremental snapshot-diff window."""
    p.add_argument(
        "--as-of", type=int, default=None, help="time travel: read the table as of snapshot seq"
    )
    p.add_argument(
        "--as-of-ts",
        default=None,
        help="time travel by wall clock (Iceberg TIMESTAMP AS OF): read "
        "the snapshot current at this ISO-8601 UTC instant",
    )
    p.add_argument(
        "--changes-from",
        type=int,
        default=None,
        help="incremental read: only rows appended after this snapshot seq "
        "(up to --as-of, default latest) — the Iceberg incremental append scan",
    )


def cmd_cat(args) -> int:
    """Every row of the table as JSON lines (parquet-tool cat analogue,
    ``cmd/parquet-tool/cmds/cat.go``). Streams partitions through
    ``toLocalIterator`` so the driver never materializes the table."""
    spark = _spark(args)

    df = _load_table(spark, args)
    for row in df.toLocalIterator():
        print(json.dumps(row.asDict(), default=str))
    return 0


def cmd_split(args) -> int:
    """Split one (or many) real .parquet files into multiple files of a
    target size (parquet-tool split analogue,
    ``cmd/parquet-tool/cmds/split.go``): plan output file count from the
    footers' uncompressed row-group totals alone, scan one task per row
    group through the kernels, rewrite via the parquet sink. Like the
    reference's ``--file-size``, the target is approximate, not the
    exact on-disk size. Splitting is also the moment to add prune
    structures (``--page-index`` / ``--bloom-columns``). For engine
    (pgs) tables, use ``compact --target-mb`` instead."""
    spark = _spark(args)
    from .spark.maintenance import compact_parquet_dir

    man = compact_parquet_dir(
        spark,
        args.input,
        args.out,
        target_partition_bytes=args.file_size_mb << 20,
        compression=args.compression,
        page_index=args.page_index,
        bloom_columns=args.bloom_columns.split(",") if args.bloom_columns else None,
    )
    rows = man.collect()
    pids = sorted({r["partition"] for r in rows})
    print(json.dumps({"out": args.out, "files": len(pids)}))
    return 0


def cmd_orphans(args) -> int:
    """Remove (or list with --dry-run) files no table metadata references
    (Iceberg remove_orphan_files): uncommitted data files from crashed
    jobs and leftover staging files."""
    from .spark.maintenance import remove_orphan_files

    removed = remove_orphan_files(
        args.enc, older_than_s=args.older_than_s, dry_run=args.dry_run
    )
    print(json.dumps({"orphans": removed, "deleted": not args.dry_run}))
    return 0


def cmd_schema(args) -> int:
    """Table schema (parquet-tool schema analogue).

    ``--parse FILE`` parses a textual ``message {}`` definition (the
    reference's schema language) and prints its Spark DDL; ``--message``
    prints an encoded table's schema back in that textual form.
    """
    from . import schematext as st

    if args.parse:
        with open(args.parse) as fh:
            msg = st.parse_message(fh.read(), strict=args.strict)
        print(json.dumps({"name": msg.name, "ddl": msg.to_ddl()}))
        return 0
    if not args.enc:
        print("schema: one of --enc or --parse is required", file=sys.stderr)
        return 2
    from pyspark.sql.types import StructType

    from .spark import manifest as mf

    fields = mf.read_table_schema(args.enc)
    if args.message:
        schema = StructType.fromDDL(", ".join(f"{f['name']} {f['ddl']}" for f in fields))
        print(st.message_from_spark(schema).dumps(), end="")
        return 0
    print(json.dumps({"fields": fields}))
    return 0


def cmd_rowcount(args) -> int:
    """Row count from the manifest alone — no chunk is decoded
    (parquet-tool rowcount analogue)."""
    from .spark import manifest as mf

    total = 0
    for pid in sorted(mf.committed_partitions(args.enc)):
        rows = mf.read_partition_manifest(args.enc, pid)
        if rows:
            first_col = rows[0]["column"]
            total += sum(r["num_rows"] for r in rows if r["column"] == first_col)
    print(json.dumps({"rows": total}))
    return 0


def cmd_compact(args) -> int:
    spark = _spark(args)
    from .spark.maintenance import compact_parquet_dir, compact_table

    key_col = args.key_col
    if key_col and "," in key_col:
        key_col = [c.strip() for c in key_col.split(",")]
    if getattr(args, "input_format", "pgs") == "parquet":
        # foreign real-Parquet small-file compaction through the kernel
        # sink; compaction is also the moment to retrofit prune structures
        man = compact_parquet_dir(
            spark,
            args.src,
            args.out,
            key_col=key_col if isinstance(key_col, str) else None,
            partitions=args.partitions,
            target_partition_bytes=args.target_mb << 20,
            compression="snappy" if args.compression == "none" else args.compression,
            page_index=args.page_index,
            bloom_columns=args.bloom_columns.split(",") if args.bloom_columns else None,
        )
        rows = man.collect()
        print(
            json.dumps(
                {
                    "partitions": len({r["partition"] for r in rows}),
                    "rows": sum(r["num_rows"] for r in rows) // max(len({r["column"] for r in rows}), 1),
                    "out": args.out,
                }
            )
        )
        return 0
    man = compact_table(
        spark,
        args.src.split(","),
        args.out,
        key_col=key_col,
        partitions=args.partitions,
        target_partition_bytes=args.target_mb << 20,
        layout=args.layout,
        compression=args.compression,
    )
    rows = man.collect()
    print(
        json.dumps(
            {
                "partitions": len({r["partition"] for r in rows}),
                "raw_bytes": sum(r["raw_bytes"] for r in rows),
                "encoded_bytes": sum(r["encoded_bytes"] for r in rows),
            }
        )
    )
    spark.stop()
    return 0


def cmd_snapshots(args) -> int:
    """Snapshot lineage log (Iceberg snapshots analogue)."""
    from .spark import manifest as mf

    for snap in mf.read_snapshots(args.enc):
        print(json.dumps(snap))
    return 0


def cmd_decontaminate(args) -> int:
    """Scrub a corpus of benchmark contamination: fingerprint the
    benchmark set (ops/winnow.contamination), drop every corpus
    document sharing >= --min-hits winnowing fingerprints with any
    benchmark doc, and encode the survivors as a new table whose
    ``decontaminate`` snapshot records the benchmark lineage and drop
    count."""
    spark = _spark(args)
    from pyspark.sql import functions as F

    from .ops.winnow import contamination
    from .spark import manifest as mf
    from .spark.encode_job import encode_table

    df = _load_table(spark, args)
    if args.bench_format == "parquet":
        bench = spark.read.parquet(args.bench)
    else:
        from .spark.decode_job import decode_table

        bench = decode_table(spark, args.bench)
    flagged = contamination(
        df.filter(F.col(args.text_col).isNotNull()),
        bench,
        text_col=args.text_col,
        id_col=args.id_col,
        bench_id_col=args.bench_id_col,
        min_hits=args.min_hits,
    ).select(args.id_col).distinct()
    kept = df.join(flagged, args.id_col, "left_anti")
    n_in = df.count()
    man = encode_table(
        kept,
        args.out,
        key_col=args.key_col,
        partitions=args.partitions,
        compression=args.compression,
    ).collect()
    first = man[0]["column"] if man else None
    rows_out = sum(r["num_rows"] for r in man if r["column"] == first)
    snap = mf.commit_snapshot(
        args.out,
        "decontaminate",
        {
            "source": args.enc,
            "benchmark": args.bench,
            "min_hits": args.min_hits,
            "rows_in": n_in,
            "rows_dropped": n_in - rows_out,
        },
    )
    print(
        json.dumps(
            {
                "rows_in": n_in,
                "rows_out": rows_out,
                "rows_dropped": n_in - rows_out,
                "out": args.out,
                "snapshot": snap["seq"],
            }
        )
    )
    return 0


def cmd_curate(args) -> int:
    """Curate a corpus end-to-end: load (either input format, any
    --where/--as-of scoping), run the one-shuffle dedup + quality
    pipeline (``ops.curate.curate_corpus_rows``), and encode the kept
    rows as a new table whose ``curate`` snapshot records the gates and
    source lineage."""
    spark = _spark(args)
    from .ops.curate import curate_corpus_rows, strip_boilerplate
    from .spark import manifest as mf
    from .spark.encode_job import encode_table

    df = _load_table(spark, args)
    if args.strip_boilerplate:
        from pyspark.sql import functions as F

        cleaned = strip_boilerplate(
            df,
            host_col=args.host_col,
            text_col=args.text_col,
            id_col=args.id_col,
            max_ratio=args.bp_max_ratio,
        ).select(args.id_col, F.col("clean_text"))
        df = df.drop(args.text_col).join(cleaned, args.id_col).withColumnRenamed(
            "clean_text", args.text_col
        )
    kept = curate_corpus_rows(
        df,
        text_col=args.text_col,
        id_col=args.id_col,
        min_ttr=args.min_ttr,
        max_punct=args.max_punct,
    )
    man = encode_table(
        kept,
        args.out,
        key_col=args.key_col,
        partitions=args.partitions,
        compression=args.compression,
    ).collect()
    first = man[0]["column"] if man else None
    rows_out = sum(r["num_rows"] for r in man if r["column"] == first)
    snap = mf.commit_snapshot(
        args.out,
        "curate",
        {
            "source": args.enc,
            "input_format": args.input_format,
            "min_ttr": args.min_ttr,
            "max_punct": args.max_punct,
            "text_col": args.text_col,
            "id_col": args.id_col,
            "strip_boilerplate": bool(args.strip_boilerplate),
            **(
                {"host_col": args.host_col, "bp_max_ratio": args.bp_max_ratio}
                if args.strip_boilerplate
                else {}
            ),
        },
    )
    print(json.dumps({"rows_out": rows_out, "out": args.out, "snapshot": snap["seq"]}))
    return 0


def cmd_properties(args) -> int:
    """Table properties (Iceberg TBLPROPERTIES analogue): print the
    effective map at a version, or set/unset keys via a metadata-only
    ``set-properties`` snapshot."""
    from .spark import manifest as mf

    if args.set or args.unset:
        updates: dict[str, str | None] = {}
        for kv in args.set or []:
            k, eq, v = kv.partition("=")
            if not eq:
                print(f"--set expects key=value, got {kv!r}", file=sys.stderr)
                return 2
            updates[k] = v
        for k in args.unset or []:
            updates[k] = None
        snap = mf.set_table_properties(args.enc, updates)
        print(json.dumps({"seq": snap["seq"], "properties": snap["properties"]}))
        return 0
    print(json.dumps(mf.table_properties(args.enc, as_of=args.as_of)))
    return 0


def cmd_rollback(args) -> int:
    """Roll the table back to a snapshot (Iceberg rollback analogue):
    partitions appended after it are deleted, a fresh snapshot re-pins
    the restored version."""
    from .spark.maintenance import rollback_table

    print(json.dumps(rollback_table(args.enc, args.seq)))
    return 0


def cmd_delete(args) -> int:
    """Delete rows matching a predicate, rewriting only the partitions
    the manifest stats cannot clear (take-down operation). Each --where
    is col:op:value, op in ==,<=,>=; values parse as int/float when
    possible."""
    if args.mode == "eq":
        # equality delete: metadata-only, no Spark session needed
        from .spark.maintenance import delete_keys

        triples = _parse_where(args.where)
        cols = {c for c, _, _ in triples}
        if len(cols) != 1 or any(op != "==" for _, op, _ in triples):
            raise SystemExit("--mode eq takes one or more col:==:value on a single column")
        print(json.dumps(delete_keys(args.enc, next(iter(cols)), [v for _, _, v in triples])))
        return 0
    spark = _spark(args)
    from .spark.maintenance import delete_where

    print(json.dumps(delete_where(spark, args.enc, _parse_where(args.where), mode=args.mode)))
    return 0


def cmd_expire(args) -> int:
    """Expire old snapshot records (metadata only; Iceberg
    expire_snapshots analogue) — expired seqs stop being time-travelable."""
    from .spark import manifest as mf

    removed = mf.expire_snapshots(args.enc, keep_last=args.keep)
    print(json.dumps({"removed_seqs": removed, "kept_last": args.keep}))
    return 0


def cmd_stats(args) -> int:
    """Table-level column statistics (num_rows / null_count /
    n_distinct), the CLI face of the reference's per-chunk stats
    (``stats.go:9-225``) merged across the table.

    ``--from-manifest`` answers from manifests ALONE — zero data pages
    read: counts sum across chunk rows and ``n_distinct`` merges the
    per-chunk KMV sketches written by ``encode --kmv-columns`` (NULL
    when a column has no sketch — never a guess). Without it, the
    table is decoded and stats run the distributed partial/merge path
    (exact distinct while <= 2^18 per column, ~0.2%-error KMV estimate
    beyond — the only distinct semantics that compose across chunks)."""
    spark = _spark(args)
    from .ops.stats import table_column_stats, table_stats_from_manifest

    cols = [c for c in (args.columns or "").split(",") if c] or None
    if args.from_manifest:
        df = table_stats_from_manifest(spark, args.enc, columns=cols)
    else:
        from .spark.decode_job import decode_table

        df = table_column_stats(decode_table(spark, args.enc, columns=cols))
    for row in sorted(df.collect(), key=lambda r: r["col_name"]):
        print(json.dumps(row.asDict()))
    return 0


def cmd_verify(args) -> int:
    spark = _spark(args)
    from .spark.decode_job import decode_table
    from .spark.verify import verify_roundtrip

    src = spark.read.parquet(args.input)
    dec = decode_table(spark, args.enc)
    res = verify_roundtrip(src, dec, key=args.key_col)
    print(json.dumps(res))
    return 0 if res["ok"] else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(prog="parquet_go_spark")
    p.add_argument("--cpus", type=int, default=None, help="local[N] cores")
    sub = p.add_subparsers(dest="cmd", required=True)

    e = sub.add_parser("encode")
    e.add_argument("--input", required=True)
    e.add_argument("--out", required=True)
    e.add_argument(
        "--input-format",
        default="parquet",
        choices=["parquet", "csv"],
        help="csv reads a headered file (csv2parquet analogue; see --typehints)",
    )
    e.add_argument(
        "--typehints",
        default=None,
        help="comma list name=type for CSV columns (csv2parquet vocabulary: "
        "string, byte_array, boolean, int8-int64, uint8-uint64, float, double, json); "
        "unhinted columns stay string",
    )
    e.add_argument("--delimiter", default=",", help="CSV field delimiter")
    e.add_argument("--key-col", default=None, help="key column; comma-separated list for zorder")
    e.add_argument("--partitions", type=int, default=None)
    e.add_argument(
        "--layout",
        default="hash",
        choices=["hash", "range", "zorder"],
        help="key partitioning: salted hash (write-optimized), range (scan-optimized), "
        "or zorder (multi-column clustering; --key-col takes a comma list)",
    )
    e.add_argument("--profile", default="auto", choices=["auto", "reference"])
    e.add_argument("--compression", default="none", choices=["none", "zlib", "snappy", "zstd", "lz4", "gzip"])
    e.add_argument("--no-resume", action="store_true")
    e.add_argument("--page-crc", action="store_true", help="per-page CRC32 (WithCRC analogue)")
    e.add_argument(
        "--page-stats",
        action="store_true",
        help="per-page min/max bounds (ColumnIndex analogue; enables page-seek decode)",
    )
    e.add_argument(
        "--sort-within",
        default=None,
        help="comma-separated columns for sortWithinPartitions (tight page bounds / longer runs)",
    )
    e.add_argument(
        "--bloom-columns",
        default=None,
        help="comma-separated columns to build bloom filters for (point-lookup "
        "prune): manifest SBBF for the chunks format, parquet-format "
        "BloomFilter.md structures for --format parquet",
    )
    e.add_argument(
        "--kmv-columns",
        default=None,
        help="comma-separated columns to sketch per chunk (mergeable KMV "
        "distinct sketches in the manifest; enables `stats --from-manifest`)",
    )
    e.add_argument(
        "--page-index",
        action="store_true",
        help="with --format parquet: write the parquet-format PageIndex "
        "(ColumnIndex + OffsetIndex) so any engine can prune pages",
    )
    e.add_argument(
        "--kv",
        action="append",
        metavar="K=V",
        help="with --format parquet: file-level key-value metadata "
        "(reference WithMetaData), repeatable",
    )
    e.add_argument(
        "--encodings",
        default=None,
        help="pin columns to codecs, e.g. warc_ts=for_bp,url=delta_length "
        "(per-column configured encoding; chunks format only)",
    )
    e.add_argument(
        "--message-schema",
        default=None,
        help="path to a textual message{} schema file: project/cast the input "
        "to the declared shape before encoding (chunks format only)",
    )
    e.add_argument(
        "--format",
        default="chunks",
        choices=["chunks", "parquet"],
        help="chunks = engine container; parquet = real .parquet partition files",
    )
    e.add_argument(
        "--append",
        action="store_true",
        help="add partitions to an existing table (schemas must match; "
        "each encode+snapshot is a time-travelable version)",
    )
    e.set_defaults(fn=cmd_encode)

    d = sub.add_parser("decode")
    d.add_argument("--enc", required=True)
    d.add_argument("--out", required=True)
    d.add_argument("--columns", default=None, help="comma-separated projection")
    d.add_argument("--validate-crc", action="store_true")
    _add_version_flags(d)
    d.add_argument(
        "--input-format",
        choices=["pgs", "parquet"],
        default="pgs",
        help="'parquet' reads real .parquet files through the kernel scan",
    )
    d.add_argument(
        "--where",
        action="append",
        default=None,
        help="col:op:value (op: ==, <=, >=); prunes partitions/row groups/"
        "pages/blooms, then re-applies exactly; repeat for a conjunction",
    )
    d.set_defaults(fn=cmd_decode)

    m = sub.add_parser("meta")
    m.add_argument("--enc", required=True)
    m.add_argument(
        "--input-format",
        choices=["pgs", "parquet"],
        default="pgs",
        help="'parquet' prints real-Parquet footer metadata from tail preads "
        "only (row groups, chunk encodings, stats, PageIndex/bloom/dict "
        "presence) — parquet-tool meta over foreign files",
    )
    m.set_defaults(fn=cmd_meta)

    g = sub.add_parser("gen-pages")
    g.add_argument("--rows", type=int, required=True)
    g.add_argument("--out", required=True)
    g.set_defaults(fn=cmd_gen_pages)

    v = sub.add_parser("verify")
    v.add_argument("--input", required=True)
    v.add_argument("--enc", required=True)
    v.add_argument("--key-col", default="url")
    v.set_defaults(fn=cmd_verify)

    h = sub.add_parser("head")
    h.add_argument("--enc", required=True)
    h.add_argument("-n", type=int, default=10)
    h.add_argument("--columns", default=None, help="comma-separated projection")
    h.add_argument(
        "--input-format",
        choices=["pgs", "parquet"],
        default="pgs",
        help="'parquet' reads real .parquet files through the kernel scan",
    )
    h.add_argument(
        "--where",
        action="append",
        default=None,
        help="col:op:value (op: ==, <=, >=); prunes partitions/row groups/"
        "pages/blooms, then re-applies exactly; repeat for a conjunction",
    )
    _add_version_flags(h)
    h.set_defaults(fn=cmd_head)

    ct = sub.add_parser("cat", help="print every row as JSON lines (parquet-tool cat)")
    ct.add_argument("--enc", required=True)
    ct.add_argument("--columns", default=None, help="comma-separated projection")
    ct.add_argument(
        "--input-format",
        choices=["pgs", "parquet"],
        default="pgs",
        help="'parquet' reads real .parquet files through the kernel scan",
    )
    ct.add_argument(
        "--where",
        action="append",
        default=None,
        help="col:op:value (op: ==, <=, >=); prunes partitions/row groups/"
        "pages/blooms, then re-applies exactly; repeat for a conjunction",
    )
    _add_version_flags(ct)
    ct.set_defaults(fn=cmd_cat)

    sp = sub.add_parser(
        "split", help="split real .parquet files into multiple target-sized files"
    )
    sp.add_argument("--input", required=True, help=".parquet file, glob, or directory")
    sp.add_argument("--out", required=True, help="target directory for the split files")
    sp.add_argument(
        "--file-size-mb",
        type=int,
        default=100,
        help="approximate raw (uncompressed) MB per output file — like the "
        "reference's --file-size, not the exact on-disk size",
    )
    sp.add_argument(
        "--compression", default="snappy", choices=["none", "zlib", "snappy", "zstd", "lz4"]
    )
    sp.add_argument("--page-index", action="store_true", help="write the PageIndex into the split files")
    sp.add_argument("--bloom-columns", default=None, help="comma-separated bloom filter columns")
    sp.set_defaults(fn=cmd_split)

    s = sub.add_parser("schema")
    s.add_argument("--enc", default=None)
    s.add_argument("--message", action="store_true", help="print as textual message{} schema")
    s.add_argument("--parse", default=None, help="parse a .schema message file, print Spark DDL")
    s.add_argument("--strict", action="store_true", help="strict LIST/MAP validation on --parse")
    s.set_defaults(fn=cmd_schema)

    rc = sub.add_parser("rowcount")
    rc.add_argument("--enc", required=True)
    rc.set_defaults(fn=cmd_rowcount)

    st = sub.add_parser(
        "stats",
        help="table-level column stats (rows/nulls/distinct); "
        "--from-manifest reads zero data pages",
    )
    st.add_argument("--enc", required=True)
    st.add_argument("--columns", help="comma-separated column subset (both modes)")
    st.add_argument(
        "--from-manifest",
        action="store_true",
        help="merge per-chunk manifest sketches instead of scanning data",
    )
    st.set_defaults(fn=cmd_stats)

    sn = sub.add_parser("snapshots")
    sn.add_argument("--enc", required=True)
    sn.set_defaults(fn=cmd_snapshots)

    cu = sub.add_parser(
        "curate", help="dedup + quality-gate a corpus into a new encoded table"
    )
    dc = sub.add_parser(
        "decontaminate",
        help="drop documents overlapping a benchmark/eval set (winnowing fingerprints)",
    )
    dc.add_argument("--enc", required=True, help="source table (pgs dir or parquet dir)")
    dc.add_argument("--bench", required=True, help="benchmark table (pgs dir or parquet dir)")
    dc.add_argument(
        "--bench-format", dest="bench_format", choices=["pgs", "parquet"], default="parquet"
    )
    dc.add_argument("--out", required=True)
    dc.add_argument(
        "--input-format", dest="input_format", choices=["pgs", "parquet"], default="pgs"
    )
    dc.add_argument("--columns", default=None)
    dc.add_argument("--where", action="append", default=None)
    dc.add_argument("--as-of", dest="as_of", type=int, default=None)
    dc.add_argument("--text-col", default="text")
    dc.add_argument("--id-col", default="doc_id")
    dc.add_argument("--bench-id-col", dest="bench_id_col", default="doc_id")
    dc.add_argument("--min-hits", dest="min_hits", type=int, default=2)
    dc.add_argument("--key-col", default=None)
    dc.add_argument("--partitions", type=int, default=None)
    dc.add_argument("--compression", default="snappy")
    dc.set_defaults(fn=cmd_decontaminate)
    cu.add_argument("--enc", required=True, help="source table (pgs dir or parquet dir)")
    cu.add_argument("--out", required=True)
    cu.add_argument(
        "--input-format", dest="input_format", choices=["pgs", "parquet"], default="pgs"
    )
    cu.add_argument("--columns", default=None)
    cu.add_argument("--where", action="append", default=None, help="pre-filter, fed to the prune tiers (repeatable)")
    cu.add_argument("--as-of", dest="as_of", type=int, default=None)
    cu.add_argument("--text-col", default="text")
    cu.add_argument("--id-col", default="doc_id")
    cu.add_argument("--min-ttr", type=float, default=0.3)
    cu.add_argument("--max-punct", type=float, default=0.1)
    cu.add_argument("--key-col", default=None)
    cu.add_argument("--partitions", type=int, default=None)
    cu.add_argument("--compression", default="snappy")
    cu.add_argument(
        "--strip-boilerplate",
        action="store_true",
        help="CCNet-style per-host frequent-line removal before the quality pipeline",
    )
    cu.add_argument("--host-col", default="source", help="host/domain column for line frequency")
    cu.add_argument(
        "--bp-max-ratio",
        type=float,
        default=0.3,
        help="lines in more than this fraction of a host's docs are stripped",
    )
    cu.set_defaults(fn=cmd_curate)

    pr = sub.add_parser(
        "properties", help="show or set table properties (metadata-only snapshots)"
    )
    pr.add_argument("--enc", required=True)
    pr.add_argument("--set", action="append", metavar="K=V", dest="set")
    pr.add_argument("--unset", action="append", metavar="K", dest="unset")
    pr.add_argument("--as-of", dest="as_of", type=int, default=None)
    pr.set_defaults(fn=cmd_properties)

    cp = sub.add_parser("compact", help="rewrite small encoded tables into right-sized partitions")
    cp.add_argument("--src", required=True, help="comma-separated source encoded dirs")
    cp.add_argument("--out", required=True)
    cp.add_argument("--key-col", default=None)
    cp.add_argument("--partitions", type=int, default=None)
    cp.add_argument("--target-mb", type=int, default=256, help="raw MB per output partition")
    cp.add_argument("--layout", default="hash", choices=["hash", "range", "zorder"])
    cp.add_argument("--compression", default="none", choices=["none", "zlib", "snappy", "zstd", "lz4"])
    cp.add_argument(
        "--input-format",
        choices=["pgs", "parquet"],
        default="pgs",
        help="'parquet' compacts a directory of real .parquet files (any "
        "writer) through the kernel scan + parquet sink",
    )
    cp.add_argument(
        "--page-index",
        action="store_true",
        help="with --input-format parquet: write the PageIndex into the compacted files",
    )
    cp.add_argument(
        "--bloom-columns",
        default=None,
        help="with --input-format parquet: comma-separated bloom filter columns",
    )
    cp.set_defaults(fn=cmd_compact)

    rb = sub.add_parser("rollback", help="roll the table back to a snapshot (deletes later appends)")
    rb.add_argument("--enc", required=True)
    rb.add_argument("--seq", type=int, required=True)
    rb.set_defaults(fn=cmd_rollback)

    dl = sub.add_parser("delete", help="delete rows matching a predicate (rewrites only candidate partitions)")
    dl.add_argument("--enc", required=True)
    dl.add_argument(
        "--where",
        action="append",
        required=True,
        help="col:op:value (op: ==, <=, >=); repeat for a conjunction",
    )
    dl.add_argument(
        "--mode",
        choices=["cow", "mor", "eq"],
        default="cow",
        help="cow rewrites candidate partitions in place; mor writes "
        "positional delete sidecars (no rewrite, history preserved); "
        "eq writes one equality sidecar from metadata alone (no scan, "
        "no Spark job; --where must be col:==:value on one column)",
    )
    dl.set_defaults(fn=cmd_delete)

    orp = sub.add_parser("orphans", help="remove files no table metadata references")
    orp.add_argument("--enc", required=True)
    orp.add_argument(
        "--older-than-s",
        type=float,
        default=3600.0,
        help="only files at least this old qualify (guards a concurrent "
        "append's not-yet-committed data file)",
    )
    orp.add_argument("--dry-run", action="store_true", help="list without deleting")
    orp.set_defaults(fn=cmd_orphans)

    ex = sub.add_parser("expire", help="expire old snapshot records (metadata only)")
    ex.add_argument("--enc", required=True)
    ex.add_argument("--keep", type=int, default=1, help="newest snapshots to keep")
    ex.set_defaults(fn=cmd_expire)

    args = p.parse_args(argv)
    return args.fn(args)


if __name__ == "__main__":
    sys.exit(main())
