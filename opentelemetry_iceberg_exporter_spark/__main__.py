"""Engine CLI — the Spark-native analog of the reference's collector
binary + recovery tool.

  export-batch   replay OTLP/JSON files into the warehouse once
  export-stream  run the checkpointed streaming exporter
  recover        reconcile storage against the registered-file set
  compact        merge small files partition-by-partition

Examples:
  python -m opentelemetry_iceberg_exporter_spark export-batch \\
      --input /data/otlp/traces --signal traces --warehouse /wh
  python -m opentelemetry_iceberg_exporter_spark export-stream \\
      --input /data/otlp/logs --signal logs --warehouse /wh \\
      --checkpoint /wh/_ckpt/logs --once
  python -m opentelemetry_iceberg_exporter_spark recover \\
      --root /wh/otel-exp --dry-run
"""

from __future__ import annotations

import argparse
import json
import os
import sys

from .config import CatalogConfig, ExporterConfig, PartitionConfig, StorageConfig
from .session import build_session


def _config_from_args(args) -> ExporterConfig:
    cfg = ExporterConfig(
        storage=StorageConfig(
            provider=args.provider,
            bucket=args.warehouse,
            prefix=args.prefix,
            compression=args.compression,
        ),
        catalog=CatalogConfig(catalog_type="none", table_prefix=args.table_prefix),
        partition=PartitionConfig(granularity=args.granularity, timezone=args.timezone),
    )
    cfg.validate()
    return cfg


def _add_catalog_args(p: argparse.ArgumentParser) -> None:
    """Table-addressing args shared by every catalog subcommand; the
    default transport is the fs catalog (--warehouse version-hint CAS),
    --rest-uri switches to the REST catalog client (server-arbitrated
    commits) — same operation surface on both handles."""
    p.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    p.add_argument("--namespace", default="otel")
    p.add_argument("--table", required=True)
    p.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    p.add_argument("--rest-token", default="", help="bearer token for --rest-uri")


def _cli_catalog(args):
    """The catalog a subcommand's --rest-uri / --warehouse names."""
    if args.rest_uri:
        from .sinks.iceberg_rest import RestCatalogClient

        return RestCatalogClient(
            args.rest_uri, warehouse=args.warehouse or "", token=args.rest_token
        )
    if not args.warehouse:
        raise SystemExit("--warehouse is required without --rest-uri")
    from .sinks.iceberg_fs import FsCatalog

    return FsCatalog(args.warehouse)


def _load_cli_table(args):
    """Resolve the table handle for a catalog subcommand (FsTable or
    RestTable — the surfaces match)."""
    catalog = _cli_catalog(args)
    if args.rest_uri:
        table = catalog.table(args.namespace, args.table)
        table.metadata()  # fail fast on a missing table
        return table
    return catalog.load_table(args.namespace, args.table)


def _add_export_args(p: argparse.ArgumentParser) -> None:
    p.add_argument("--input", required=True, help="OTLP/JSON-lines file or dir")
    p.add_argument("--signal", required=True, choices=["traces", "logs", "metrics"])
    p.add_argument("--warehouse", required=True, help="storage root (or s3 bucket)")
    p.add_argument("--provider", default="filesystem", choices=["filesystem", "s3", "r2"])
    p.add_argument("--prefix", default="opentelemetry-iceberg-exporter")
    p.add_argument("--compression", default="snappy")
    p.add_argument("--granularity", default="hourly")
    p.add_argument("--timezone", default="UTC")
    p.add_argument("--table-prefix", default="otel")


def main(argv: list[str] | None = None) -> int:
    argv = sys.argv[1:] if argv is None else argv
    if argv and argv[0] == "recover":
        # recovery owns its flag surface (recovery/cli.py)
        from .recovery.cli import main as recover_main

        return recover_main(argv[1:])

    parser = argparse.ArgumentParser(prog="otel-spark-engine")
    sub = parser.add_subparsers(dest="cmd", required=True)

    pb = sub.add_parser("export-batch", help="one-shot replay of OTLP/JSON files")
    _add_export_args(pb)

    ps = sub.add_parser("export-stream", help="checkpointed streaming export")
    _add_export_args(ps)
    ps.add_argument("--checkpoint", required=True)
    ps.add_argument("--once", action="store_true", help="availableNow then exit")
    ps.add_argument("--max-files-per-trigger", type=int, default=None)
    ps.add_argument(
        "--progress-log",
        default=None,
        help="append per-micro-batch self-telemetry JSON lines here",
    )

    sub.add_parser("recover", help="reconcile storage vs catalog (see recovery/cli.py)")

    pc = sub.add_parser("compact", help="merge small files partition-by-partition")
    pc.add_argument("--root", required=True, help="warehouse root to compact")
    pc.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    pc.add_argument("--min-files", type=int, default=2)
    pc.add_argument("--dry-run", action="store_true")

    pd_ = sub.add_parser(
        "dedup",
        help="corpus dedup pipeline: candidate pairs -> connected-component "
        "groups -> canonical keep list, written as parquet",
    )
    pd_.add_argument("--input", required=True, help="parquet file/dir of documents")
    pd_.add_argument("--output", required=True, help="output dir (parquet)")
    pd_.add_argument("--id-col", default="doc_id")
    pd_.add_argument("--text-col", default="text")
    pd_.add_argument(
        "--method",
        default="minhash",
        choices=["exact", "minhash", "jaccard", "winnow"],
        help="candidate generation: exact hash, MinHash-LSH bands, n-gram "
        "Jaccard with skew cap, or winnowing fingerprint overlap",
    )
    pd_.add_argument(
        "--keep-only",
        action="store_true",
        help="write only canonical rows (joined back to the input) instead "
        "of the full (id, group_id, group_size, is_canonical) map",
    )

    psd = sub.add_parser(
        "semdedup",
        help="SemDeDup semantic dedup: k-means cells over an embedding "
        "column, within-cell cosine pairs at a threshold, "
        "connected-component groups with a canonical keeper — catches "
        "the paraphrase/template duplication lexical dedup misses",
    )
    psd.add_argument("--input", required=True, help="parquet file/dir with an embedding column")
    psd.add_argument("--output", required=True, help="output dir (parquet)")
    psd.add_argument("--id-col", default="doc_id")
    psd.add_argument("--vec-col", default="embedding")
    psd.add_argument("--k", type=int, default=8, help="k-means cells (recall/cost knob)")
    psd.add_argument("--threshold", type=float, default=0.97, help="cosine duplicate threshold")
    psd.add_argument(
        "--keep-only",
        action="store_true",
        help="write only canonical rows (joined back to the input) instead "
        "of the full (id, group_id, group_size, is_canonical) map",
    )

    pss = sub.add_parser(
        "substr-dedup",
        help="exact substring dedup (Lee et al. ExactSubstr): excise "
        "every >= k-char substring that occurs more than once across "
        "the corpus, keeping one canonical copy — catches the verbatim "
        "licenses/templates/quotes document-level dedup misses",
    )
    pss.add_argument("--input", required=True, help="parquet file/dir with a text column")
    pss.add_argument("--output", required=True, help="output dir (parquet)")
    pss.add_argument("--id-col", default="doc_id")
    pss.add_argument("--text-col", default="text")
    pss.add_argument("--k", type=int, default=50, help="minimum duplicated span length (chars)")
    pss.add_argument(
        "--stride", type=int, default=1,
        help=">1 = content-sampled anchors (rows shrink ~stride x, "
        "probabilistic detection for spans near k)",
    )
    pss.add_argument(
        "--spans-only",
        action="store_true",
        help="write the (doc_id, span_start, span_end) map instead of "
        "rewriting the text",
    )
    pss.add_argument(
        "--overlap-report",
        action="store_true",
        help="audit mode: write one row per CANONICAL anchor whose "
        "k-char window overlaps a span excised from its own document "
        "(the content-loss artifact — regions whose surviving copy is "
        "itself partially removed)",
    )

    pim = sub.add_parser(
        "image-dedup",
        help="perceptual image dedup: dHash over decoded pixels, banded "
        "candidate pairs, Hamming verification, connected-component "
        "groups with a canonical keeper per group",
    )
    pim.add_argument("--input", required=True, help="parquet with (id, binary content)")
    pim.add_argument("--output", required=True, help="output dir (parquet)")
    pim.add_argument("--id-col", default="media_id")
    pim.add_argument("--content-col", default="content")
    pim.add_argument("--max-distance", type=int, default=10)
    pim.add_argument(
        "--pairs-only",
        action="store_true",
        help="write verified (id_a, id_b, hamming) pairs instead of groups",
    )

    pad = sub.add_parser(
        "audio-dedup",
        help="perceptual audio dedup: spectrogram hash over decoded PCM, "
        "banded candidate pairs, Hamming verification, groups",
    )
    pad.add_argument("--input", required=True, help="parquet with (id, binary WAV content)")
    pad.add_argument("--output", required=True, help="output dir (parquet)")
    pad.add_argument("--id-col", default="media_id")
    pad.add_argument("--content-col", default="content")
    pad.add_argument("--max-distance", type=int, default=8)
    pad.add_argument("--pairs-only", action="store_true")

    pvd = sub.add_parser(
        "video-dedup",
        help="clip-level MJPEG near-dup: decode keyframes (MP4 or AVI "
        "containers), hash each frame, pair clips whose frames match",
    )
    pvd.add_argument("--input", required=True, help="parquet with (id, binary content)")
    pvd.add_argument("--output", required=True, help="output dir (parquet)")
    pvd.add_argument("--id-col", default="media_id")
    pvd.add_argument("--content-col", default="content")
    pvd.add_argument("--stride", type=int, default=1, help="sample every Nth frame")
    pvd.add_argument("--min-frame-fraction", type=float, default=0.5)
    pvd.add_argument("--max-distance", type=int, default=10)
    pvd.add_argument(
        "--pairs-only",
        action="store_true",
        help="write (id_a, id_b, matched_frames, frac_a, frac_b) pairs "
        "instead of connected-component groups",
    )

    pdi = sub.add_parser(
        "dedup-ingest",
        help="incremental dedup: filter a NEW batch of documents against a "
        "catalog-backed LSH band index (created if absent), append the "
        "accepted docs' bands atomically, and write per-doc decisions",
    )
    pdi.add_argument("--input", required=True, help="parquet file/dir of new documents")
    pdi.add_argument("--id-col", default="doc_id")
    pdi.add_argument("--text-col", default="text")
    pdi.add_argument("--output", default=None, help="write (doc_id,status,match_id) parquet here")
    pdi.add_argument(
        "--accepted-output",
        default=None,
        help="write the accepted input rows (full columns) as parquet here",
    )
    pdi.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    pdi.add_argument("--namespace", default="dedup")
    pdi.add_argument("--table", default="band_index")
    pdi.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    pdi.add_argument("--rest-token", default="", help="bearer token for --rest-uri")

    psi = sub.add_parser(
        "substr-ingest",
        help="incremental EXACT-SUBSTRING dedup: excise every >= k-char "
        "substring of a new batch that the ingested corpus already "
        "holds (catalog-backed k-gram anchor index, created if absent), "
        "run the within-batch ExactSubstr pass, append new anchors "
        "atomically, write the trimmed batch",
    )
    psi.add_argument("--input", required=True, help="parquet file/dir of new documents")
    psi.add_argument("--output", required=True, help="trimmed batch (parquet)")
    psi.add_argument("--id-col", default="doc_id")
    psi.add_argument("--text-col", default="text")
    psi.add_argument("--k", type=int, default=50, help="minimum duplicated span length (chars)")
    psi.add_argument(
        "--stride", type=int, default=1,
        help=">1 = content-sampled anchors (index and shuffle shrink "
        "~stride x; probabilistic detection near k)",
    )
    psi.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    psi.add_argument("--namespace", default="dedup")
    psi.add_argument("--table", default="substr_index")
    psi.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    psi.add_argument("--rest-token", default="", help="bearer token for --rest-uri")

    psf = sub.add_parser(
        "substr-fold",
        help="repair a violated single-writer contract on the substring "
        "anchor index: collapse racing double-inserted hashes to their "
        "min-(doc_id, pos) canonical in one overwrite snapshot (no-op "
        "commit-free when the index is clean)",
    )
    psf.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    psf.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    psf.add_argument("--rest-token", default="", help="bearer token for --rest-uri")
    psf.add_argument(
        "--table",
        default="dedup.substr_index",
        help="anchor index table as namespace.name",
    )

    pdt = sub.add_parser(
        "dedup-tail",
        help="continuous corpus dedup: drain new snapshots of a catalog "
        "documents table through the incremental LSH index "
        "(checkpointed, exactly-once), optionally appending accepted "
        "rows as parquet",
    )
    pdt.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    pdt.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    pdt.add_argument("--rest-token", default="", help="bearer token for --rest-uri")
    pdt.add_argument(
        "--source-table", required=True, help="documents table as namespace.name"
    )
    pdt.add_argument(
        "--index-table",
        default="dedup.band_index",
        help="LSH band index table as namespace.name (created if absent)",
    )
    pdt.add_argument("--checkpoint", required=True, help="tail cursor file")
    pdt.add_argument("--id-col", default="doc_id")
    pdt.add_argument("--text-col", default="text")
    pdt.add_argument(
        "--accepted-output",
        default=None,
        help="append each batch's accepted rows (full columns) as parquet here",
    )
    pdt.add_argument("--max-files-per-batch", type=int, default=None)

    def _add_ann_args(p):
        p.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
        p.add_argument("--rest-uri", default=None)
        p.add_argument("--rest-token", default="")
        p.add_argument("--namespace", default="ann")
        p.add_argument("--index", default="docs", help="index name (tables <index>_centroids/_vectors)")
        p.add_argument("--id-col", default="vec_id")
        p.add_argument("--vec-col", default="embedding")

    pst = sub.add_parser(
        "substr-tail",
        help="continuous exact-substring dedup: drain new snapshots of "
        "a catalog documents table through the k-gram anchor index "
        "(checkpointed, exactly-once), appending trimmed rows as "
        "parquet",
    )
    pst.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    pst.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    pst.add_argument("--rest-token", default="", help="bearer token for --rest-uri")
    pst.add_argument(
        "--source-table", required=True, help="documents table as namespace.name"
    )
    pst.add_argument(
        "--index-table",
        default="dedup.substr_index",
        help="k-gram anchor index as namespace.name (created if absent)",
    )
    pst.add_argument("--checkpoint", required=True, help="tail cursor file")
    pst.add_argument("--id-col", default="doc_id")
    pst.add_argument("--text-col", default="text")
    pst.add_argument("--k", type=int, default=50)
    pst.add_argument("--stride", type=int, default=1)
    pst.add_argument(
        "--output",
        default=None,
        help="append each batch's trimmed rows (text_deduped + stats) here",
    )

    pab = sub.add_parser(
        "ann-build",
        help="train an IVF codebook on an embeddings parquet and create "
        "the catalog-backed index (cell-partitioned vector lists)",
    )
    _add_ann_args(pab)
    pab.add_argument("--input", required=True, help="embeddings parquet")
    pab.add_argument("--k", type=int, default=16, help="codebook size (cells)")

    pai = sub.add_parser(
        "ann-ingest",
        help="upsert an embeddings batch into the index (one CDC "
        "snapshot; re-ingested ids replace old versions)",
    )
    _add_ann_args(pai)
    pai.add_argument("--input", required=True, help="embeddings parquet")

    pas = sub.add_parser(
        "ann-search",
        help="top-k neighbors for a query embeddings parquet, reading "
        "only the probed cells' partitions",
    )
    _add_ann_args(pas)
    pas.add_argument("--input", required=True, help="query embeddings parquet")
    pas.add_argument("--output", required=True)
    pas.add_argument("--k", type=int, default=5)
    pas.add_argument("--nprobe", type=int, default=2)

    pqt = sub.add_parser(
        "quality-train",
        help="train the hashed-ngram quality classifier (distributed "
        "full-batch AdaGrad) and save the model as JSON",
    )
    pqt.add_argument("--input", required=True, help="parquet of labeled documents")
    pqt.add_argument("--id-col", default="doc_id")
    pqt.add_argument("--text-col", default="text")
    pqt.add_argument("--label-col", required=True, help="0/1 column (1 = keep)")
    pqt.add_argument("--model-out", required=True, help="model JSON path")
    pqt.add_argument("--dim", type=int, default=1 << 15)
    pqt.add_argument("--iters", type=int, default=30)
    pqt.add_argument("--lr", type=float, default=1.0)

    pqs = sub.add_parser(
        "quality-score",
        help="score documents with a trained quality model (one broadcast "
        "join) and write (id, quality_score, quality_keep) parquet",
    )
    pqs.add_argument("--input", required=True, help="parquet of documents")
    pqs.add_argument("--id-col", default="doc_id")
    pqs.add_argument("--text-col", default="text")
    pqs.add_argument("--model", required=True, help="model JSON from quality-train")
    pqs.add_argument("--output", required=True)
    pqs.add_argument("--threshold", type=float, default=0.5)
    pqs.add_argument(
        "--keep-only",
        action="store_true",
        help="write the kept input rows (full columns) instead of scores",
    )

    pcb = sub.add_parser(
        "corpus-build",
        help="end-to-end training-corpus funnel: paragraph boilerplate "
        "removal -> benchmark decontamination -> exact dedup -> near "
        "dedup -> quality filter -> sequence packing, with a per-stage "
        "survivor report",
    )
    pcb.add_argument("--input", default=None, help="parquet file/dir of documents")
    pcb.add_argument("--output", default=None, help="output dir (parquet)")
    pcb.add_argument("--warehouse", default=None, help="fs warehouse root (for table I/O)")
    pcb.add_argument("--rest-uri", default=None)
    pcb.add_argument("--rest-token", default="")
    pcb.add_argument(
        "--source-table", default=None,
        help="read documents from a catalog table (namespace.name) instead of --input",
    )
    pcb.add_argument(
        "--dest-table", default=None,
        help="append the built corpus to a catalog table (namespace.name, "
        "created if absent) instead of / in addition to --output",
    )
    pcb.add_argument("--id-col", default="doc_id")
    pcb.add_argument("--text-col", default="text")
    pcb.add_argument(
        "--boilerplate-max-docs",
        type=int,
        default=2,
        help="drop paragraphs appearing in more than N docs (0 = skip stage)",
    )
    pcb.add_argument("--benchmark", default=None, help="parquet of benchmark texts to decontaminate against")
    pcb.add_argument("--bench-text-col", default=None)
    pcb.add_argument("--skip-exact", action="store_true")
    pcb.add_argument("--skip-near", action="store_true")
    pcb.add_argument(
        "--substr-k",
        type=int,
        default=None,
        help="also run the exact-substring pass after doc-level dedup: "
        "excise >= K-char substrings duplicated across survivors "
        "(one canonical copy kept)",
    )
    pcb.add_argument(
        "--substr-stride", type=int, default=1,
        help="content-sampled anchors for --substr-k at scale",
    )
    pcb.add_argument(
        "--shuffle-seed", default=None,
        help="seeded deterministic training order for the packing "
        "stage (epoch reshuffle = new seed); default keeps packing's "
        "unseeded stable order",
    )
    pcb.add_argument("--model", default=None, help="quality model JSON (from quality-train)")
    pcb.add_argument("--threshold", type=float, default=0.5)
    pcb.add_argument(
        "--lm-reference",
        default=None,
        help="parquet of reference text: train a bigram LM on it and "
        "drop docs whose perplexity exceeds --max-perplexity",
    )
    pcb.add_argument("--max-perplexity", type=float, default=None)
    pcb.add_argument(
        "--url-col",
        default=None,
        help="URL column for the per-domain cap stage",
    )
    pcb.add_argument(
        "--max-per-domain",
        type=int,
        default=None,
        help="keep at most N docs per registrable domain (deterministic "
        "hash-ordered sample; requires --url-col)",
    )
    pcb.add_argument(
        "--bpe-model",
        default=None,
        help="merges JSON from bpe-train: adds n_bpe_tokens and packs "
        "by real tokenizer counts",
    )
    pcb.add_argument("--pack-budget", type=int, default=None, help="pack into sequences of N tokens")

    pbt = sub.add_parser(
        "bpe-train",
        help="train a BPE tokenizer on the corpus (distributed merges) "
        "and save the merge list as JSON",
    )
    pbt.add_argument("--input", required=True, help="parquet of documents")
    pbt.add_argument("--text-col", default="text")
    pbt.add_argument("--num-merges", type=int, default=1000)
    pbt.add_argument("--min-freq", type=int, default=2)
    pbt.add_argument("--model-out", required=True, help="merges JSON path")

    plm = sub.add_parser(
        "lm-score",
        help="train a bigram LM on reference text and score document "
        "perplexity (CCNet-style quality signal)",
    )
    plm.add_argument("--train-input", default=None, help="reference parquet (or --model)")
    plm.add_argument("--model", default=None, help="saved LM dir (from --model-out)")
    plm.add_argument("--model-out", default=None, help="save the trained LM here")
    plm.add_argument("--input", required=True, help="documents parquet to score")
    plm.add_argument("--output", required=True)
    plm.add_argument("--id-col", default="doc_id")
    plm.add_argument("--text-col", default="text")
    plm.add_argument("--add-k", type=float, default=0.5)

    psm = sub.add_parser(
        "sample",
        help="deterministic dataset splitting/sampling: write split-labeled "
        "rows, one split, or a stratified sample as parquet",
    )
    psm.add_argument("--input", required=True, help="parquet file/dir")
    psm.add_argument("--output", required=True, help="output dir (parquet)")
    psm.add_argument("--id-col", default="doc_id")
    psm.add_argument("--salt", default="", help="salt to derive a fresh assignment")
    psm.add_argument(
        "--split",
        default=None,
        choices=["train", "val", "test"],
        help="write only this split (default: all rows with a split column)",
    )
    psm.add_argument(
        "--fraction", type=float, default=None,
        help="instead of splits: keep ~fraction of rows (zero-shuffle hash threshold)",
    )
    psm.add_argument(
        "--stratify-by", default=None,
        help="with --fraction: exact ceil(frac*n) per value of this column",
    )

    pmx = sub.add_parser(
        "mix",
        help="temperature-weighted corpus mixing (the XLM-R/mT5 "
        "p_i^alpha recipe as a deterministic without-replacement "
        "downsample): union of the per-source samples tagged with a "
        "`source` column, written as parquet with the per-source report",
    )
    pmx.add_argument(
        "--source",
        action="append",
        required=True,
        metavar="NAME=PATH",
        help="a named parquet source (repeatable; at least one)",
    )
    pmx.add_argument("--output", required=True, help="output dir (parquet)")
    pmx.add_argument("--id-col", default="doc_id")
    pmx.add_argument(
        "--alpha", type=float, default=1.0,
        help="temperature exponent: <1 flattens toward low-resource sources",
    )
    pmx.add_argument(
        "--weight",
        action="append",
        default=None,
        metavar="NAME=W",
        help="base share override per source (repeatable; default: sizes)",
    )
    pmx.add_argument("--salt", default="mix", help="hash-sample salt")

    pch = sub.add_parser(
        "changes",
        help="incremental snapshot-diff read from the fs catalog: rows "
        "appended after --from-snapshot, written as parquet",
    )
    _add_catalog_args(pch)
    pch.add_argument("--output", required=True, help="output dir (parquet)")
    pch.add_argument("--from-snapshot", type=int, default=None)
    pch.add_argument("--to-snapshot", type=int, default=None)
    pch.add_argument(
        "--scope-col", default=None,
        help="scope the read to rows where this column lies in "
        "[--scope-lo, --scope-hi]: manifests are skipped unopened via "
        "field-507 partition summaries, files by partition transform "
        "values, rows exactly (changelog)",
    )
    pch.add_argument("--scope-lo", default=None)
    pch.add_argument("--scope-hi", default=None)
    pch.add_argument(
        "--with-lineage",
        action="store_true",
        help="with --changelog on a v3 table: add _row_id / "
        "_last_updated_sequence_number (row-stable identity across "
        "copy-on-write rewrites) to every change row",
    )
    pch.add_argument(
        "--changelog",
        action="store_true",
        help="emit a row-level CDC changelog instead of the append-only "
        "diff: each row tagged _change_type (insert / delete with full "
        "pre-image / delete_key) + _commit_snapshot_id + "
        "_commit_sequence_number; handles delete and upsert snapshots "
        "the plain diff refuses",
    )

    pr = sub.add_parser(
        "redact",
        help="PII scrubbing: per-category counts (email/ip/ssn/phone) + "
        "text_redacted with typed placeholder tokens, written as parquet "
        "(map-side regexp chain, no shuffle)",
    )
    pr.add_argument("--input", required=True, help="parquet file/dir")
    pr.add_argument("--output", required=True, help="output dir (parquet)")
    pr.add_argument("--id-col", default="doc_id")
    pr.add_argument("--text-col", default="text")
    pr.add_argument(
        "--replace-text",
        action="store_true",
        help="emit the full input row set with the text column REPLACED "
        "by its redacted form (drop the count columns) instead of the "
        "(id, counts, text_redacted) report",
    )

    pt = sub.add_parser(
        "tail",
        help="checkpointed micro-batch consumption: drain rows appended "
        "since the durable cursor into --output (parquet, append), one "
        "micro-batch at a time, then exit (cron-friendly). The cursor "
        "is (snapshot, file-offset), so huge snapshots split across "
        "bounded batches; re-running resumes exactly where the last "
        "run committed",
    )
    _add_catalog_args(pt)
    pt.add_argument("--output", required=True, help="output dir (parquet, appended)")
    pt.add_argument("--checkpoint", required=True, help="durable cursor file (JSON)")
    pt.add_argument(
        "--max-files-per-batch", type=int, default=None,
        help="bound each micro-batch to this many data files",
    )
    pt.add_argument(
        "--seed-current", action="store_true",
        help="first run only: start at the CURRENT snapshot instead of "
        "replaying table history",
    )
    pt.add_argument(
        "--changelog", action="store_true",
        help="consume the row-level CDC changelog instead of the "
        "append-only stream (handles delete/upsert snapshots; batches "
        "are snapshot-granular, --max-files-per-batch bounds snapshots "
        "per batch here)",
    )

    psc = sub.add_parser(
        "scan",
        help="pruned table scan: read a catalog table with manifest-level "
        "file skipping (hidden-partition equality / monotone range "
        "rewrite) and write matching rows as parquet, reporting how many "
        "files the metadata pruned before Spark planned anything",
    )
    _add_catalog_args(psc)
    psc.add_argument("--output", required=True, help="output dir (parquet)")
    psc.add_argument("--snapshot", type=int, default=None, help="time travel by id")
    psc.add_argument(
        "--as-of-ms", type=int, default=None,
        help="time travel by wall clock (epoch millis; snapshot-log resolution)",
    )
    psc.add_argument(
        "--equals", default=None, metavar="COL=VALUE",
        help="equality predicate: prunes via every partition transform "
        "derived from COL (bucket included), then filters rows",
    )
    psc.add_argument(
        "--range", default=None, nargs=3, metavar=("COL", "LO", "HI"),
        help="range predicate (inclusive; '-' = unbounded side): prunes "
        "via monotone transforms (time/truncate), then filters rows",
    )
    psc.add_argument(
        "--where", default=None,
        help="instead of --equals/--range: ONE SQL predicate — every "
        "extractable conjunct prunes files (manifest column bounds, "
        "hidden-partition rewrite, epoch-nanos int literals on ns "
        "columns, variant-path conjuncts like \"try_variant_get(attrs, "
        "'$.code', 'long') >= 500\" via shredded footer stats), then "
        "the full predicate filters rows",
    )
    psc.add_argument(
        "--with-lineage", action="store_true",
        help="append the v3 row-lineage metadata columns "
        "(_row_id, _last_updated_sequence_number)",
    )
    psc.add_argument(
        "--extract", action="append", default=None,
        metavar="COL:$.PATH:TYPE",
        help="project a typed variant path as an output column named "
        "after the last path key (repeatable; e.g. "
        "span_attributes:$.http.status_code:long)",
    )

    prb = sub.add_parser(
        "rollback",
        help="move main's head back to an ancestor snapshot (un-publish "
        "a bad commit; metadata-only, rolled-past snapshots stay "
        "readable by id until expiry)",
    )
    _add_catalog_args(prb)
    prb.add_argument("--to-snapshot", type=int, required=True)

    prf = sub.add_parser(
        "ref",
        help="create/move/drop a tag or branch, with per-ref retention "
        "(min-snapshots-to-keep / max-snapshot-age-ms govern how much "
        "branch ancestry expire keeps; max-ref-age-ms ages the ref out)",
    )
    _add_catalog_args(prf)
    prf.add_argument("--name", required=True)
    prf.add_argument(
        "--snapshot", type=int, default=None,
        help="target snapshot id (default: the current snapshot)",
    )
    prf.add_argument(
        "--type", dest="ref_type", choices=["tag", "branch"], default="tag"
    )
    prf.add_argument("--min-snapshots-to-keep", type=int, default=None)
    prf.add_argument("--max-snapshot-age-ms", type=int, default=None)
    prf.add_argument("--max-ref-age-ms", type=int, default=None)
    prf.add_argument("--drop", action="store_true", help="remove the ref")

    pug = sub.add_parser(
        "upgrade",
        help="format-version upgrade ceremony: validate the v3 delete "
        "invariants (no live parquet position deletes, no stacked DVs), "
        "bump format-version, initialize next-row-id (row lineage)",
    )
    _add_catalog_args(pug)
    pug.add_argument("--format-version", type=int, default=3)

    pi = sub.add_parser(
        "inspect",
        help="Iceberg-style metadata tables (snapshots/history/files/"
        "all_files/manifests) printed as JSON lines",
    )
    _add_catalog_args(pi)
    pi.add_argument(
        "--what",
        default="snapshots",
        choices=(
            "snapshots", "history", "files", "all_files", "manifests",
            "refs", "partitions", "statistics",
        ),
    )

    pvs = sub.add_parser(
        "verify-shred",
        help="audit a VARIANT table's live data files against its "
        "declared shred paths (the variant.shred-paths.<column> table "
        "properties): every declared path must be a typed shredded "
        "column (or provably value-free) in every row group — prints "
        "the violation list as JSON",
    )
    _add_catalog_args(pvs)

    psql = sub.add_parser(
        "sql",
        help="run SQL over the warehouse: every catalog table (fs, or "
        "--rest-uri for the REST catalog) is registered as a "
        "<namespace>_<table> temp view over its current snapshot "
        "(local scan planning, merge-on-read deletes applied); result "
        "printed as JSON lines or written as parquet",
    )
    psql.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    psql.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    psql.add_argument("--rest-token", default="", help="bearer token for --rest-uri")
    psql.add_argument("--namespace", default=None, help="restrict registered views")
    psql.add_argument("--query", required=True, help="SQL text")
    psql.add_argument("--output", default=None, help="write parquet here instead of printing")
    psql.add_argument("--limit", type=int, default=100, help="max printed rows")

    pvw = sub.add_parser(
        "view",
        help="Iceberg catalog VIEWS (view spec v1): create/replace a "
        "SQL definition as a versioned catalog object (table refs as "
        "<namespace>_<table>, like `sql`), read it (definition time "
        "travel via --version-id), list, drop — fs or REST transport",
    )
    pvw.add_argument("action", choices=["create", "replace", "read", "list", "drop"])
    pvw.add_argument("--warehouse", default=None, help="fs warehouse root (required without --rest-uri)")
    pvw.add_argument("--namespace", default="otel")
    pvw.add_argument("--name", default=None, help="view name (all actions but list)")
    pvw.add_argument("--rest-uri", default=None, help="Iceberg REST catalog URI (switches transport)")
    pvw.add_argument("--rest-token", default="", help="bearer token for --rest-uri")
    pvw.add_argument("--sql", default=None, help="view SQL (create/replace)")
    pvw.add_argument(
        "--version-id",
        type=int,
        default=None,
        help="read a HISTORICAL definition (current data underneath)",
    )
    pvw.add_argument("--limit", type=int, default=100, help="max printed rows (read)")
    pvw.add_argument(
        "--purge",
        action="store_true",
        help="drop: delete the view directory too (a plain drop keeps the "
        "metadata history for salvage, and the name cannot be re-created "
        "over the remains)",
    )

    pcs = sub.add_parser(
        "column-stats",
        help="print a table's registered per-column NDV statistics "
        "(Puffin) as JSON; --snapshot-id for historical entries",
    )
    _add_catalog_args(pcs)
    pcs.add_argument("--snapshot-id", type=int, default=None)

    pdel = sub.add_parser(
        "delete",
        help="row-level delete: purge rows matching a SQL predicate "
        "(GDPR/contamination removal). copy-on-write rewrites only the "
        "files containing matches; merge-on-read writes an Iceberg v2 "
        "position-delete file and touches NO data file",
    )
    _add_catalog_args(pdel)
    pdel.add_argument("--where", help="SQL predicate for rows to DELETE")
    pdel.add_argument(
        "--mode",
        choices=["copy-on-write", "merge-on-read", "deletion-vectors"],
        default="copy-on-write",
        help="merge-on-read defers the rewrite: delete cost tracks the "
        "matches, not the files containing them (fold in later with "
        "maintain --fold-deletes); deletion-vectors does the same with "
        "per-file roaring bitmaps in one Puffin file (Iceberg v3 DVs) "
        "instead of a position-delete parquet",
    )
    pdel.add_argument(
        "--branch",
        default="main",
        help="run the delete against this BRANCH's head and advance only "
        "it (main untouched until fast-forward publishes) — works for "
        "every mode incl. copy-on-write, whose replace commit pins the "
        "branch head",
    )
    pdel.add_argument(
        "--keys",
        help="instead of --where: Parquet file/dir of key tuples to "
        "delete by EQUALITY (Iceberg v2 equality-delete file, content=2)"
        " — the table is never read; cost tracks the key set",
    )
    pdel.add_argument(
        "--key-cols",
        help="comma-separated equality columns (required with --keys)",
    )

    pup = sub.add_parser(
        "upsert",
        help="zero-read CDC upsert: commit the input rows AND an "
        "equality delete on their keys in ONE snapshot — old row "
        "versions vanish, new rows survive (strict sequence-number "
        "rule); per-batch cost is O(batch), never O(table)",
    )
    _add_catalog_args(pup)
    pup.add_argument("--input", required=True, help="Parquet file/dir of new rows")
    pup.add_argument("--key-cols", required=True, help="comma-separated key columns")

    pu = sub.add_parser(
        "update",
        help="row-level copy-on-write UPDATE: apply SET expressions to "
        "rows matching a SQL predicate; only files containing matches "
        "are rewritten",
    )
    _add_catalog_args(pu)
    pu.add_argument("--where", required=True, help="SQL predicate for rows to UPDATE")
    pu.add_argument(
        "--set",
        dest="set_exprs",
        action="append",
        required=True,
        metavar="COL=EXPR",
        help="column assignment (repeatable), e.g. --set 'v = v * 2'",
    )
    pu.add_argument(
        "--mode",
        choices=["copy-on-write", "merge-on-read", "deletion-vectors"],
        default="copy-on-write",
        help="merge-on-read writes a row-delta (position deletes + new "
        "row versions) instead of rewriting the matched files; "
        "deletion-vectors writes the delete half as v3 roaring-bitmap DVs",
    )
    pu.add_argument(
        "--branch",
        default="main",
        help="run the update against this BRANCH's head and advance only "
        "it (main untouched until fast-forward publishes)",
    )

    pov = sub.add_parser(
        "overwrite",
        help="dynamic partition overwrite (INSERT OVERWRITE semantics): "
        "atomically REPLACE exactly the hidden partitions the input "
        "lands in — the standard backfill primitive; every untouched "
        "partition survives by reference",
    )
    _add_catalog_args(pov)
    pov.add_argument(
        "--input", required=True, help="Parquet file/dir of replacement rows"
    )

    pm = sub.add_parser(
        "maintain", help="catalog table maintenance (fs or --rest-uri): rewrite_data_files + expire_snapshots + orphan sweep + delete folds"
    )
    _add_catalog_args(pm)
    pm.add_argument("--target-bytes", type=int, default=128 * 1024 * 1024)
    pm.add_argument("--min-files", type=int, default=2)
    pm.add_argument("--expire-keep", type=int, default=0, help="0 = don't expire")
    pm.add_argument(
        "--expire-older-than-ms",
        type=int,
        default=None,
        help="with --expire-keep: only expire snapshots committed before "
        "this epoch-ms wall-clock cutoff (age-based retention; both axes "
        "compose as guarantees)",
    )
    pm.add_argument(
        "--remove-orphans-older-than",
        type=float,
        default=None,
        help="also sweep unreferenced data files older than this many "
        "seconds (leftovers from crashed writes; 259200 = Iceberg's "
        "3-day default)",
    )
    pm.add_argument(
        "--fold-deletes",
        action="store_true",
        help="rewrite_position_deletes: fold pending merge-on-read "
        "position deletes into the data files and drop the delete files",
    )
    pm.add_argument(
        "--auto",
        action="store_true",
        help="policy-driven folding: fold position/equality deletes "
        "ONLY when their accumulated ratio to live rows crosses "
        "--fold-threshold (metadata-only decision from snapshot summary "
        "totals; restores the metadata-only count_rows fast path "
        "without rewriting files on every run)",
    )
    pm.add_argument(
        "--fold-threshold",
        type=float,
        default=0.05,
        help="--auto fold trigger: pending deleted rows / live data "
        "rows (default 0.05 — fold once ~5%% of rows are shadowed)",
    )
    pm.add_argument(
        "--fold-equality-deletes",
        action="store_true",
        help="rewrite_equality_deletes: fold pending equality (CDC) "
        "deletes into the data files and drop the equality-delete files",
    )
    pm.add_argument(
        "--rewrite-manifests",
        action="store_true",
        help="rewrite_manifests: merge the current snapshot's small "
        "manifests into ~target-size bins (metadata-only replace "
        "commit; keeps scan planning O(files) under per-micro-batch "
        "commit cadences)",
    )
    pm.add_argument(
        "--manifest-target-bytes",
        type=int,
        default=8 * 1024 * 1024,
        help="rewrite_manifests bin target size",
    )
    pm.add_argument(
        "--partition-stats",
        action="store_true",
        help="write + register the Iceberg partition-statistics file "
        "for the (post-maintenance) current snapshot",
    )
    pm.add_argument(
        "--column-stats",
        action="store_true",
        help="compute + register the Puffin column-NDV statistics file "
        "for the (post-maintenance) current snapshot",
    )
    pm.add_argument(
        "--incremental-column-stats",
        action="store_true",
        help="refresh column stats by KMV-merging sketches of only the "
        "appended window (O(increment); requires a prior --column-stats "
        "seed and an append-only window)",
    )

    args = parser.parse_args(argv)

    spark = build_session(app_name=f"otel-engine-{args.cmd}")

    if args.cmd == "sample":
        from pyspark.sql import functions as F

        from .operators.sampling import (
            hash_fraction_sample,
            hash_split,
            stratified_sample,
        )

        data = spark.read.parquet(args.input)
        if args.fraction is not None:
            if args.stratify_by:
                out = stratified_sample(
                    data, [args.stratify_by], args.fraction, args.id_col, args.salt
                )
            else:
                out = hash_fraction_sample(data, args.id_col, args.fraction, args.salt)
        else:
            out = hash_split(data, args.id_col, salt=args.salt)
            if args.split:
                out = out.filter(F.col("split") == args.split).drop("split")
        out.write.mode("overwrite").parquet(args.output)
        # count the WRITTEN parquet: counting the live plan would
        # re-run the whole sample from source
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"rows": n, "cmd": "sample"}))
        return 0

    if args.cmd == "mix":
        from .operators.sampling import mix_corpora

        def _pairs(items, what):
            out = {}
            for item in items or []:
                name, sep, value = item.partition("=")
                if not sep or not name:
                    raise SystemExit(f"--{what} must be NAME=VALUE (got {item!r})")
                if name in out:
                    raise SystemExit(
                        f"--{what} {name!r} given twice — repeated names "
                        "would silently overwrite each other"
                    )
                out[name] = value
            return out

        sources = {
            name: spark.read.parquet(path)
            for name, path in _pairs(args.source, "source").items()
        }
        weights = None
        if args.weight:
            weights = {}
            for k, v in _pairs(args.weight, "weight").items():
                try:
                    weights[k] = float(v)
                except ValueError:
                    raise SystemExit(
                        f"--weight {k}={v!r}: weight must be a number"
                    ) from None
        mixed, report = mix_corpora(
            sources, args.id_col, weights=weights, alpha=args.alpha, salt=args.salt
        )
        mixed.write.mode("overwrite").parquet(args.output)
        # ONE plan execution per invocation: read the count back from
        # the written output instead of re-running the union-of-samples
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"rows": n, "report": report, "cmd": "mix"}))
        return 0

    if args.cmd == "dedup":
        from pyspark.sql import functions as F

        from .operators.dedup import (
            dedup_groups,
            exact_dedup,
            minhash_lsh_pairs,
            minhash_signatures,
            ngram_jaccard_pairs,
        )
        from .operators.text import winnowing_pairs

        docs = spark.read.parquet(args.input)
        idc, txt = args.id_col, args.text_col
        if args.method == "exact":
            # exact content dedup is its own (cheaper) pipeline: the
            # group IS the content hash, canonical = min id
            kept = exact_dedup(docs, txt, idc)
            if args.keep_only:
                out = docs.join(kept.select(idc), idc, "semi")
            else:
                out = kept
            out.write.mode("overwrite").parquet(args.output)
            print(json.dumps({"rows": out.count(), "method": "exact"}))
            return 0
        if args.method == "minhash":
            pairs = minhash_lsh_pairs(minhash_signatures(docs, idc, txt), idc)
        elif args.method == "jaccard":
            pairs = ngram_jaccard_pairs(docs, idc, txt).select("id_a", "id_b")
        else:
            pairs = winnowing_pairs(docs, idc, txt).select("id_a", "id_b")
        groups = dedup_groups(docs, pairs, idc)
        if args.keep_only:
            out = docs.join(
                groups.filter(F.col("is_canonical")).select(idc), idc, "semi"
            )
        else:
            out = groups
        out.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"rows": out.count(), "method": args.method}))
        return 0

    if args.cmd == "substr-dedup":
        from .operators.substring_dedup import (
            duplicated_spans,
            strip_duplicated_substrings,
        )

        if args.spans_only and args.overlap_report:
            # the outputs have different schemas (span map vs per-anchor
            # audit rows) — silently preferring one would feed a span
            # consumer audit rows without an error
            parser.error("--spans-only and --overlap-report are mutually exclusive")
        docs = spark.read.parquet(args.input)
        if args.overlap_report:
            from .operators.substring_dedup import canonical_overlap_report

            out = canonical_overlap_report(
                docs, args.id_col, args.text_col, k=args.k, stride=args.stride
            )
        elif args.spans_only:
            out = duplicated_spans(
                docs, args.id_col, args.text_col, k=args.k, stride=args.stride
            )
        else:
            out = strip_duplicated_substrings(
                docs, args.id_col, args.text_col, k=args.k, stride=args.stride
            )
        out.write.mode("overwrite").parquet(args.output)
        n = spark.read.parquet(args.output).count()
        print(json.dumps({"rows": n, "cmd": "substr-dedup", "k": args.k}))
        return 0

    if args.cmd == "semdedup":
        from pyspark.sql import functions as F

        from .operators.semdedup import semdedup

        docs = spark.read.parquet(args.input)
        groups = semdedup(
            docs, args.id_col, args.vec_col, k=args.k, threshold=args.threshold
        )
        if args.keep_only:
            out = docs.join(
                groups.filter(F.col("is_canonical")).select(args.id_col),
                args.id_col,
                "semi",
            )
        else:
            out = groups
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {"rows": out.count(), "k": args.k, "threshold": args.threshold}
            )
        )
        return 0

    if args.cmd == "video-dedup":
        from pyspark.sql import functions as F

        from .operators.dedup import dedup_groups
        from .operators.video import video_keyframes, video_neardup_pairs

        media = spark.read.parquet(args.input)
        kf = video_keyframes(
            media, args.id_col, args.content_col, stride=args.stride
        )
        pairs = video_neardup_pairs(
            kf,
            min_frame_fraction=args.min_frame_fraction,
            max_distance=args.max_distance,
        )
        if args.pairs_only:
            out = pairs
        else:
            out = dedup_groups(
                media.select(F.col(args.id_col).alias("media_id")),
                pairs.select("id_a", "id_b"),
                "media_id",
            )
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "cmd": "video-dedup",
                    "rows": out.count(),
                    "mode": "pairs" if args.pairs_only else "groups",
                }
            )
        )
        return 0

    if args.cmd in ("image-dedup", "audio-dedup"):
        from .operators.dedup import dedup_groups

        media = spark.read.parquet(args.input)
        if args.cmd == "image-dedup":
            from .operators.image_dedup import (
                image_neardup_pairs,
                image_signatures,
            )

            sigs = image_signatures(media, args.id_col, args.content_col)
            pairs = image_neardup_pairs(sigs, args.id_col, args.max_distance)
        else:
            from .operators.audio_dedup import (
                audio_neardup_pairs,
                audio_signatures,
            )

            sigs = audio_signatures(media, args.id_col, args.content_col)
            pairs = audio_neardup_pairs(sigs, args.id_col, args.max_distance)
        if args.pairs_only:
            out = pairs
        else:
            out = dedup_groups(
                media.select(args.id_col), pairs.select("id_a", "id_b"), args.id_col
            )
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "cmd": args.cmd,
                    "rows": out.count(),
                    "mode": "pairs" if args.pairs_only else "groups",
                }
            )
        )
        return 0

    if args.cmd == "substr-ingest":
        from .operators.incremental_substr import (
            IncrementalSubstrDeduper,
            create_substr_index_table,
        )

        catalog = _cli_catalog(args)
        table = create_substr_index_table(catalog, args.namespace, args.table)
        dd = IncrementalSubstrDeduper(
            table, id_col=args.id_col, text_col=args.text_col,
            k=args.k, stride=args.stride,
        )
        res = dd.ingest(spark, spark.read.parquet(args.input))
        res.output.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "cmd": "substr-ingest",
                    "docs": res.docs,
                    "trimmed_docs": res.trimmed_docs,
                    "new_grams": res.new_grams,
                    "snapshot_id": res.snapshot_id,
                    # the scale signal: the bloom probe must keep these
                    # tracking the batch, not the corpus
                    "index_files_read": res.index_files_read,
                    "index_files_total": res.index_files_total,
                    "index_bytes_read": res.index_bytes_read,
                }
            )
        )
        return 0

    if args.cmd == "substr-fold":
        from .operators.incremental_substr import IncrementalSubstrDeduper

        if args.rest_uri:
            from .sinks.iceberg_rest import RestCatalogClient, RestTable

            catalog = RestCatalogClient(
                args.rest_uri, warehouse=args.warehouse or "", token=args.rest_token
            )
            ns, name = args.table.split(".", 1)
            table = RestTable(catalog, ns, name)
        else:
            if not args.warehouse:
                raise SystemExit("--warehouse is required without --rest-uri")
            from .sinks.iceberg_fs import FsCatalog

            ns, name = args.table.split(".", 1)
            table = FsCatalog(args.warehouse).load_table(ns, name)
        folded = IncrementalSubstrDeduper(table).fold_duplicate_anchors(spark)
        print(json.dumps({"cmd": "substr-fold", "folded_rows": folded}))
        return 0

    if args.cmd == "dedup-ingest":
        from pyspark.sql import functions as F

        from .operators.incremental_dedup import (
            IncrementalDeduper,
            create_index_table,
        )

        catalog = _cli_catalog(args)
        table = create_index_table(catalog, args.namespace, args.table)
        dd = IncrementalDeduper(table, id_col=args.id_col, text_col=args.text_col)
        batch = spark.read.parquet(args.input)
        res = dd.ingest(spark, batch)
        if args.output:
            res.decisions.write.mode("overwrite").parquet(args.output)
        if args.accepted_output:
            kept_ids = res.decisions.filter(
                F.col("status").isin("accepted", "unbandable")
            ).select(F.col(args.id_col).alias("__kid"))
            batch.join(
                kept_ids,
                batch[args.id_col].cast("string") == kept_ids["__kid"],
                "semi",
            ).write.mode("overwrite").parquet(args.accepted_output)
        print(
            json.dumps(
                {
                    "cmd": "dedup-ingest",
                    "accepted": res.accepted,
                    "duplicates": res.duplicates,
                    "already": res.already,
                    "unbandable": res.unbandable,
                    "index_snapshot": res.snapshot_id,
                    # the scale signal: the bloom probe must keep these
                    # tracking the batch, not the corpus
                    "index_files_read": res.index_files_read,
                    "index_files_total": res.index_files_total,
                    "index_bytes_read": res.index_bytes_read,
                }
            )
        )
        return 0

    if args.cmd == "substr-tail":
        from .operators.incremental_substr import (
            IncrementalSubstrDeduper,
            create_substr_index_table,
            substr_tail,
        )

        def parse_ref(ref: str) -> tuple[str, str]:
            if ref.count(".") != 1:
                raise SystemExit(f"table ref must be namespace.name, got {ref!r}")
            ns, name = ref.split(".")
            return ns, name

        if args.rest_uri:
            from .sinks.iceberg_rest import RestCatalogClient, RestTable

            catalog = RestCatalogClient(
                args.rest_uri, warehouse=args.warehouse or "", token=args.rest_token
            )
            src_ns, src_name = parse_ref(args.source_table)
            source = RestTable(catalog, src_ns, src_name)
            source.metadata()  # fail fast
        else:
            if not args.warehouse:
                raise SystemExit("--warehouse is required without --rest-uri")
            from .sinks.iceberg_fs import FsCatalog

            catalog = FsCatalog(args.warehouse)
            src_ns, src_name = parse_ref(args.source_table)
            source = catalog.load_table(src_ns, src_name)
        idx_ns, idx_name = parse_ref(args.index_table)
        index = create_substr_index_table(catalog, idx_ns, idx_name)
        dd = IncrementalSubstrDeduper(
            index, id_col=args.id_col, text_col=args.text_col,
            k=args.k, stride=args.stride,
        )

        def on_batch(df, res):
            if args.output:
                res.output.write.mode("append").parquet(args.output)

        results = substr_tail(
            spark, source, dd, args.checkpoint, on_batch=on_batch
        )
        print(
            json.dumps(
                {
                    "cmd": "substr-tail",
                    "batches": len(results),
                    "docs": sum(r.docs for r in results),
                    "trimmed_docs": sum(r.trimmed_docs for r in results),
                    "new_grams": sum(r.new_grams for r in results),
                }
            )
        )
        return 0

    if args.cmd == "dedup-tail":
        from pyspark.sql import functions as F

        from .operators.incremental_dedup import (
            IncrementalDeduper,
            create_index_table,
            dedup_tail,
        )

        def parse_ref(ref: str) -> tuple[str, str]:
            if ref.count(".") != 1:
                raise SystemExit(f"table ref must be namespace.name, got {ref!r}")
            ns, name = ref.split(".")
            return ns, name

        if args.rest_uri:
            from .sinks.iceberg_rest import RestCatalogClient, RestTable

            catalog = RestCatalogClient(
                args.rest_uri, warehouse=args.warehouse or "", token=args.rest_token
            )
            src_ns, src_name = parse_ref(args.source_table)
            source = RestTable(catalog, src_ns, src_name)
            source.metadata()  # fail fast
        else:
            if not args.warehouse:
                raise SystemExit("--warehouse is required without --rest-uri")
            from .sinks.iceberg_fs import FsCatalog

            catalog = FsCatalog(args.warehouse)
            src_ns, src_name = parse_ref(args.source_table)
            source = catalog.load_table(src_ns, src_name)
        idx_ns, idx_name = parse_ref(args.index_table)
        index = create_index_table(catalog, idx_ns, idx_name)
        dd = IncrementalDeduper(index, id_col=args.id_col, text_col=args.text_col)

        def on_batch(df, res):
            if args.accepted_output:
                kept_ids = res.decisions.filter(
                    F.col("status").isin("accepted", "unbandable")
                ).select(F.col(args.id_col).alias("__kid"))
                df.join(
                    kept_ids,
                    df[args.id_col].cast("string") == kept_ids["__kid"],
                    "semi",
                ).write.mode("append").parquet(args.accepted_output)

        results = dedup_tail(
            spark,
            source,
            dd,
            args.checkpoint,
            on_batch=on_batch,
            max_files_per_batch=args.max_files_per_batch,
        )
        print(
            json.dumps(
                {
                    "cmd": "dedup-tail",
                    "batches": len(results),
                    "accepted": sum(r.accepted for r in results),
                    "duplicates": sum(r.duplicates for r in results),
                    "already": sum(r.already for r in results),
                    "unbandable": sum(r.unbandable for r in results),
                }
            )
        )
        return 0

    if args.cmd == "corpus-build":
        from .operators.corpus_build import build_corpus

        model = None
        if args.model:
            from .operators.quality_classifier import model_from_rows

            with open(args.model, encoding="utf-8") as f:
                saved = json.load(f)
            model = model_from_rows(
                [(int(b), float(v)) for b, v in saved["rows"]], dim=int(saved["dim"])
            )
        benchmark = spark.read.parquet(args.benchmark) if args.benchmark else None
        lm_model = None
        if bool(args.lm_reference) != (args.max_perplexity is not None):
            raise SystemExit(
                "--lm-reference and --max-perplexity must be given together"
            )
        if (args.max_per_domain is not None) != (args.url_col is not None):
            raise SystemExit(
                "--max-per-domain and --url-col must be given together "
                "(the cap stage would otherwise silently not run)"
            )
        if args.lm_reference:
            from .operators.lm import train_bigram_lm

            lm_model = train_bigram_lm(
                spark, spark.read.parquet(args.lm_reference), args.text_col
            )
        bpe_model = None
        if args.bpe_model:
            from .operators.bpe import BpeModel

            with open(args.bpe_model, encoding="utf-8") as f:
                saved = json.load(f)
            bpe_model = BpeModel(
                merges=[tuple(m) for m in saved["merges"]], vocab=saved["vocab"]
            )
        def corpus_catalog():
            if args.rest_uri:
                from .sinks.iceberg_rest import RestCatalogClient

                return RestCatalogClient(
                    args.rest_uri, warehouse=args.warehouse or "",
                    token=args.rest_token,
                )
            if not args.warehouse:
                raise SystemExit("table I/O needs --warehouse or --rest-uri")
            from .sinks.iceberg_fs import FsCatalog

            return FsCatalog(args.warehouse)

        if args.source_table:
            ns, name = args.source_table.split(".")
            cat = corpus_catalog()
            if args.rest_uri:
                from .sinks.iceberg_rest import RestTable

                docs_df = RestTable(cat, ns, name).read(spark)
            else:
                docs_df = cat.load_table(ns, name).read(spark)
        elif args.input:
            docs_df = spark.read.parquet(args.input)
        else:
            raise SystemExit("corpus-build needs --input or --source-table")
        if not (args.output or args.dest_table):
            raise SystemExit("corpus-build needs --output or --dest-table")
        out, report = build_corpus(
            spark,
            docs_df,
            args.id_col,
            args.text_col,
            boilerplate_max_docs=(
                args.boilerplate_max_docs if args.boilerplate_max_docs > 0 else None
            ),
            benchmark=benchmark,
            bench_text_col=args.bench_text_col,
            exact=not args.skip_exact,
            near=not args.skip_near,
            substr_k=args.substr_k,
            substr_stride=args.substr_stride,
            quality_model=model,
            quality_threshold=args.threshold,
            lm_model=lm_model,
            max_perplexity=args.max_perplexity,
            url_col=args.url_col,
            max_per_domain=args.max_per_domain,
            bpe_model=bpe_model,
            pack_budget=args.pack_budget,
            shuffle_seed=args.shuffle_seed,
        )
        dest_snapshot = None
        if args.output:
            out.write.mode("overwrite").parquet(args.output)
        if args.dest_table:
            ns, name = args.dest_table.split(".")
            cat = corpus_catalog()
            cat.ensure_namespace(ns)
            dest = cat.ensure_table(ns, name, out.schema)
            dest_snapshot = dest.append_dataframe(out)
        print(
            json.dumps(
                {
                    "cmd": "corpus-build",
                    "funnel": report.as_dict(),
                    "dest_snapshot": dest_snapshot,
                }
            )
        )
        return 0

    if args.cmd in ("ann-build", "ann-ingest", "ann-search"):
        from .operators.ann_index import AnnIndex

        catalog = _cli_catalog(args)
        data = spark.read.parquet(args.input)
        if args.cmd == "ann-build":
            idx = AnnIndex.build(
                spark, catalog, args.namespace, args.index, data,
                id_col=args.id_col, vec_col=args.vec_col, k=args.k,
            )
            print(
                json.dumps(
                    {
                        "cmd": "ann-build",
                        "cells": args.k,
                        "vectors": idx.vectors_table.read(spark).count(),
                    }
                )
            )
            return 0
        idx = AnnIndex.open(catalog, args.namespace, args.index, vec_col=args.vec_col)
        if args.cmd == "ann-ingest":
            sid = idx.ingest(spark, data, id_col=args.id_col)
            print(json.dumps({"cmd": "ann-ingest", "snapshot": sid}))
            return 0
        res = idx.search(
            spark, data, id_col=args.id_col, k=args.k, nprobe=args.nprobe
        )
        res.write.mode("overwrite").parquet(args.output)
        print(json.dumps({"cmd": "ann-search", "rows": res.count()}))
        return 0

    if args.cmd == "bpe-train":
        from .operators.bpe import train_bpe

        model = train_bpe(
            spark,
            spark.read.parquet(args.input),
            args.text_col,
            num_merges=args.num_merges,
            min_freq=args.min_freq,
        )
        with open(args.model_out, "w", encoding="utf-8") as f:
            json.dump(
                {"merges": [list(m) for m in model.merges], "vocab": model.vocab}, f
            )
        print(
            json.dumps(
                {
                    "cmd": "bpe-train",
                    "merges": len(model.merges),
                    "vocab_size": len(model.vocab),
                }
            )
        )
        return 0

    if args.cmd == "lm-score":
        from .operators.lm import BigramLM, score_perplexity, train_bigram_lm

        if args.model:
            model = BigramLM.load(spark, args.model)
        elif args.train_input:
            model = train_bigram_lm(
                spark,
                spark.read.parquet(args.train_input),
                args.text_col,
                add_k=args.add_k,
            )
        else:
            raise SystemExit("lm-score needs --train-input or --model")
        if args.model_out:
            model.save(args.model_out)
        scored = score_perplexity(
            spark.read.parquet(args.input), model, args.id_col, args.text_col
        )
        scored.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "cmd": "lm-score",
                    "rows": scored.count(),
                    "vocab_size": model.vocab_size,
                }
            )
        )
        return 0

    if args.cmd == "quality-train":
        from .operators.quality_classifier import (
            fit_linear_classifier,
            model_to_rows,
        )

        docs = spark.read.parquet(args.input)
        model = fit_linear_classifier(
            spark,
            docs,
            args.id_col,
            args.text_col,
            args.label_col,
            dim=args.dim,
            iters=args.iters,
            lr=args.lr,
        )
        with open(args.model_out, "w", encoding="utf-8") as f:
            json.dump(
                {"dim": model.dim, "rows": model_to_rows(model)}, f
            )
        print(
            json.dumps(
                {
                    "cmd": "quality-train",
                    "dim": model.dim,
                    "final_loss": model.loss_history[-1],
                    "nonzero_weights": len(model_to_rows(model)) - 1,
                }
            )
        )
        return 0

    if args.cmd == "quality-score":
        from pyspark.sql import functions as F

        from .operators.quality_classifier import model_from_rows, score_documents

        with open(args.model, encoding="utf-8") as f:
            saved = json.load(f)
        model = model_from_rows(
            [(int(b), float(v)) for b, v in saved["rows"]], dim=int(saved["dim"])
        )
        docs = spark.read.parquet(args.input)
        scored = score_documents(
            spark, docs, model, args.id_col, args.text_col, threshold=args.threshold
        )
        if args.keep_only:
            out = docs.join(
                scored.filter(F.col("quality_keep")).select(args.id_col),
                args.id_col,
                "semi",
            )
        else:
            out = scored
        out.write.mode("overwrite").parquet(args.output)
        kept = scored.filter(F.col("quality_keep")).count()
        print(
            json.dumps(
                {"cmd": "quality-score", "rows": out.count(), "kept": kept}
            )
        )
        return 0

    if args.cmd == "changes":
        from .sinks.iceberg_fs import spark_read_schema

        table = _load_cli_table(args)
        if args.changelog:
            from .sinks.iceberg_fs import read_changelog

            # ONE metadata load drives both the scan and the checkpoint
            # id (same race note as the plain diff below)
            md = table.metadata()
            end_snapshot = (
                args.to_snapshot
                if args.to_snapshot is not None
                else (md["current-snapshot-id"] if md["current-snapshot-id"] != -1 else None)
            )
            scope = (
                (args.scope_col, args.scope_lo, args.scope_hi)
                if args.scope_col
                else None
            )
            out = read_changelog(
                spark,
                md,
                from_snapshot_id=args.from_snapshot,
                to_snapshot_id=args.to_snapshot,
                source_range=scope,
                with_lineage=args.with_lineage,
            )
            out.write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {
                        "rows": out.count(),
                        "checkpoint_snapshot": end_snapshot,
                        "changelog": True,
                    }
                )
            )
            return 0
        # one metadata load drives BOTH the scan and the checkpoint id:
        # printing a current_snapshot loaded separately would race a
        # concurrent append (or, with --to-snapshot, point past the
        # requested window) and make the next poll skip the gap
        files, end_snapshot = table.incremental_scan(
            from_snapshot_id=args.from_snapshot,
            to_snapshot_id=args.to_snapshot,
        )
        if files:
            out = spark.read.parquet(*[f.file_path for f in files])
        else:
            out = spark.createDataFrame([], spark_read_schema(table.metadata()))
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {
                    "rows": out.count(),
                    # the LAST snapshot this scan covered — callers
                    # checkpoint this id and pass it as --from-snapshot
                    # on the next poll
                    "checkpoint_snapshot": end_snapshot,
                }
            )
        )
        return 0

    if args.cmd == "redact":
        from pyspark.sql import functions as F

        from .operators.text import redact_pii

        df = spark.read.parquet(args.input)
        red = redact_pii(df, args.id_col, args.text_col)
        if args.replace_text:
            out = df.drop(args.text_col).join(
                red.select(
                    args.id_col, F.col("text_redacted").alias(args.text_col)
                ),
                args.id_col,
            )
        else:
            out = red
        out.write.mode("overwrite").parquet(args.output)
        totals = red.agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("pii_total").alias("pii_total"),
            F.sum(F.when(F.col("pii_total") > 0, 1).otherwise(0)).alias("docs_with_pii"),
        ).collect()[0]
        print(
            json.dumps(
                {
                    "rows": totals.rows,
                    "pii_total": int(totals.pii_total or 0),
                    "docs_with_pii": int(totals.docs_with_pii or 0),
                }
            )
        )
        return 0

    if args.cmd == "tail":
        from .streaming.iceberg_tail import ChangelogTailer, IcebergTailer

        table = _load_cli_table(args)
        if args.changelog:
            ctailer = ChangelogTailer(
                table, args.checkpoint, max_snapshots_per_batch=args.max_files_per_batch
            )
            stats = {"batches": 0, "rows": 0}

            def _cdc_sink(df, end):
                df.write.mode("append").parquet(args.output)
                stats["batches"] += 1
                stats["rows"] += df.count()

            ctailer.process_available(spark, _cdc_sink)
            print(json.dumps({**stats, "checkpoint_snapshot": ctailer.position()}))
            return 0
        tailer = IcebergTailer(
            table, args.checkpoint, max_files_per_batch=args.max_files_per_batch
        )
        if args.seed_current and not os.path.exists(args.checkpoint):
            tailer.seed_to_current()
        stats = {"batches": 0, "rows": 0, "files": 0}

        def _sink(df, batch):
            df.write.mode("append").parquet(args.output)
            stats["batches"] += 1
            stats["rows"] += batch.record_count
            stats["files"] += len(batch.files)

        tailer.process_available(spark, _sink)
        snapshot_id, file_offset = tailer.position()
        print(
            json.dumps(
                {**stats, "checkpoint_snapshot": snapshot_id, "file_offset": file_offset}
            )
        )
        return 0

    if args.cmd == "scan":
        from pyspark.sql import functions as F

        from .sinks.iceberg_fs import current_schema

        table = _load_cli_table(args)
        md = table.metadata()

        def typed(col: str, raw: str):
            t = next(
                (f["type"] for f in current_schema(md)["fields"] if f["name"] == col),
                "string",
            )
            if not isinstance(t, str):
                raise SystemExit(f"column {col!r} is not a primitive")
            if t in ("int", "long"):
                return int(raw)
            if t in ("float", "double"):
                return float(raw)
            if t in ("timestamp", "timestamptz"):
                from datetime import datetime, timezone

                return datetime.fromisoformat(raw).replace(tzinfo=timezone.utc)
            return raw

        sid = args.snapshot
        if sid is None and args.as_of_ms is not None:
            sid = table.snapshot_as_of(args.as_of_ms)

        def apply_extracts(df):
            for spec in args.extract or []:
                try:
                    col, rest = spec.split(":", 1)
                    path, vtype = rest.rsplit(":", 1)
                except ValueError:
                    raise SystemExit(
                        f"--extract {spec!r}: expected COL:$.PATH:TYPE"
                    ) from None
                import re as _re

                segs = _re.findall(
                    r"\.([A-Za-z_][A-Za-z0-9_]*)|\[\s*'([^']+)'\s*\]", path
                )
                alias = next(
                    (a or b for a, b in reversed(segs)), "extracted"
                )
                df = df.withColumn(
                    alias, F.try_variant_get(F.col(col), path, vtype)
                )
            return df

        if args.where:
            if args.equals or args.range:
                raise SystemExit("--where subsumes --equals/--range; pass one form")
            from .sinks.iceberg_fs import plan_dml_files, spark_session_timezone

            sidr = md["current-snapshot-id"] if sid is None else sid
            _, pruned_files, _ = plan_dml_files(
                md, sidr, args.where, spark_session_timezone(spark), spark=spark
            )
            out = apply_extracts(
                table.read(
                    spark, snapshot_id=sid, where=args.where,
                    with_lineage=args.with_lineage,
                )
            )
            out.write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {
                        "rows": out.count(),
                        "files_pruned": len(pruned_files),
                        "snapshot": sidr,
                    }
                )
            )
            return 0

        predicate = row_filter = None
        srange = None
        if args.equals:
            col, _, raw = args.equals.partition("=")
            value = typed(col, raw)
            predicate = (col, value)
            row_filter = F.col(col) == F.lit(value)
        if args.range:
            col, lo_raw, hi_raw = args.range
            lo = None if lo_raw == "-" else typed(col, lo_raw)
            hi = None if hi_raw == "-" else typed(col, hi_raw)
            srange = (col, lo, hi)
            cond = F.lit(True)
            if lo is not None:
                cond = cond & (F.col(col) >= F.lit(lo))
            if hi is not None:
                cond = cond & (F.col(col) <= F.lit(hi))
            row_filter = cond if row_filter is None else (row_filter & cond)
        _, n_pruned = table.plan_files(
            snapshot_id=sid, source_predicate=predicate, source_range=srange
        )
        out = table.read(
            spark, snapshot_id=sid, source_predicate=predicate,
            source_range=srange, with_lineage=args.with_lineage,
        )
        if row_filter is not None:
            out = out.filter(row_filter)
        out = apply_extracts(out)
        out.write.mode("overwrite").parquet(args.output)
        print(
            json.dumps(
                {"rows": out.count(), "files_pruned": n_pruned, "snapshot": sid}
            )
        )
        return 0

    if args.cmd == "rollback":

        table = _load_cli_table(args)
        sid = table.rollback_to(args.to_snapshot)
        print(json.dumps({"current_snapshot": sid}))
        return 0

    if args.cmd == "ref":
        table = _load_cli_table(args)
        if args.drop:
            table.drop_ref(args.name)
            print(json.dumps({"dropped": args.name}))
            return 0
        sid = args.snapshot
        if sid is None:
            snap = table.current_snapshot()
            if snap is None:
                print("error: empty table has no snapshot to reference", file=sys.stderr)
                return 2
            sid = snap["snapshot-id"]
        table.set_ref(
            args.name,
            sid,
            args.ref_type,
            min_snapshots_to_keep=args.min_snapshots_to_keep,
            max_snapshot_age_ms=args.max_snapshot_age_ms,
            max_ref_age_ms=args.max_ref_age_ms,
        )
        print(json.dumps({"ref": args.name, "snapshot": sid, "type": args.ref_type}))
        return 0

    if args.cmd == "upgrade":
        table = _load_cli_table(args)
        v = table.upgrade_format_version(args.format_version)
        print(json.dumps({"format_version": v}))
        return 0

    if args.cmd == "verify-shred":
        from .sinks.variant_prune import verify_shred_paths

        table = _load_cli_table(args)
        md = table.metadata()
        prefix = "variant.shred-paths."
        declared = {
            k[len(prefix):]: v.split(",")
            for k, v in md.get("properties", {}).items()
            if k.startswith(prefix) and v
        }
        if not declared:
            print(json.dumps({"cmd": "verify-shred", "declared": {},
                              "files": 0, "violations": []}))
            return 0
        data, _ = table.plan_files()
        paths = [f.file_path for f in data if f.content == 0]
        violations = verify_shred_paths(paths, declared)
        print(
            json.dumps(
                {
                    "cmd": "verify-shred",
                    "declared": declared,
                    "files": len(paths),
                    "violations": [
                        {"file": fp, "column": col, "path": pth,
                         "reason": reason}
                        for fp, col, pth, reason in violations
                    ],
                }
            )
        )
        return 0 if not violations else 3

    if args.cmd == "inspect":

        table = _load_cli_table(args)
        for row in table.metadata_table(spark, args.what).toJSON().collect():
            print(row)
        return 0

    if args.cmd == "sql":
        from .sinks.iceberg_views import register_warehouse

        catalog = _cli_catalog(args)
        views, unresolved = register_warehouse(spark, catalog, args.namespace)
        if unresolved:
            print(
                json.dumps(
                    {"unresolved_views": [f"{ns}.{n}" for ns, n in unresolved]}
                )
            )
        result = spark.sql(args.query)
        if args.output:
            result.write.mode("overwrite").parquet(args.output)
            print(
                json.dumps(
                    {"cmd": "sql", "views": sorted(views), "rows": result.count()}
                )
            )
        else:
            rows = result.limit(args.limit).collect()
            for r in rows:
                print(json.dumps(r.asDict(recursive=True), default=str))
            print(
                json.dumps(
                    {"cmd": "sql", "views": sorted(views), "rows": len(rows)}
                )
            )
        return 0

    if args.cmd == "view":
        if args.action in ("create", "replace") and not args.sql:
            raise SystemExit("--sql is required for view create/replace")
        if args.action != "list" and not args.name:
            raise SystemExit("--name is required for this view action")
        if args.rest_uri:
            from .sinks.iceberg_rest import RestCatalogClient

            client = RestCatalogClient(
                args.rest_uri, warehouse=args.warehouse or "", token=args.rest_token
            )
            if args.action == "list":
                print(json.dumps({"views": client.list_views(args.namespace)}))
                return 0
            if args.action == "create":
                v = client.create_view(spark, args.namespace, args.name, args.sql)
            elif args.action == "drop":
                # REST owns the registry; purge has no fs meaning there
                existed = client.drop_view(args.namespace, args.name)
                print(json.dumps({"dropped": existed}))
                return 0
            else:
                v = client.load_view(args.namespace, args.name)
        else:
            if not args.warehouse:
                raise SystemExit("--warehouse is required without --rest-uri")
            from .sinks.iceberg_fs import FsCatalog

            cat = FsCatalog(args.warehouse)
            if args.action == "list":
                print(json.dumps({"views": cat.list_views(args.namespace)}))
                return 0
            if args.action == "create":
                v = cat.create_view(spark, args.namespace, args.name, args.sql)
            elif args.action == "drop":
                existed = cat.drop_view(args.namespace, args.name, purge=args.purge)
                print(json.dumps({"dropped": existed}))
                return 0
            else:
                v = cat.load_view(args.namespace, args.name)
        if args.action == "replace":
            vid = v.replace(spark, args.sql)
            print(json.dumps({"cmd": "view", "current_version_id": vid}))
            return 0
        if args.action == "read":
            rows = v.read(spark, version_id=args.version_id).limit(args.limit).collect()
            for r in rows:
                print(json.dumps(r.asDict(recursive=True), default=str))
            print(json.dumps({"cmd": "view", "rows": len(rows)}))
            return 0
        md = v.metadata()
        print(
            json.dumps(
                {
                    "cmd": "view",
                    "view_uuid": md["view-uuid"],
                    "current_version_id": md["current-version-id"],
                }
            )
        )
        return 0

    if args.cmd == "column-stats":
        table = _load_cli_table(args)
        stats = table.column_stats(snapshot_id=args.snapshot_id)
        print(
            json.dumps(
                {
                    col: {
                        "ndv": s["ndv"],
                        "exact": s["exact"],
                        "estimate": round(s["estimate"], 2),
                        "sketch_size": len(s["sketch"]),
                    }
                    for col, s in sorted(stats.items())
                }
            )
        )
        return 0

    if args.cmd == "delete":

        table = _load_cli_table(args)
        if args.keys:
            if not args.key_cols:
                raise SystemExit("--keys requires --key-cols")
            if args.where:
                raise SystemExit("pass --where OR --keys, not both")
            keys_df = spark.read.parquet(args.keys)
            cols = [c.strip() for c in args.key_cols.split(",") if c.strip()]
            sid, n = table.delete_where_equality(spark, keys_df, cols)
            print(
                json.dumps(
                    {"snapshot": sid, "deleted_key_tuples": n, "mode": "equality"}
                )
            )
            return 0
        if not args.where:
            raise SystemExit("pass --where (predicate) or --keys (equality)")
        sid, n = table.delete_where(
            spark, args.where, mode=args.mode, branch=args.branch
        )
        print(json.dumps({"snapshot": sid, "deleted_rows": n, "mode": args.mode}))
        return 0

    if args.cmd == "upsert":

        table = _load_cli_table(args)
        cols = [c.strip() for c in args.key_cols.split(",") if c.strip()]
        df = spark.read.parquet(args.input)
        sid = table.upsert_equality(spark, df, cols)
        print(json.dumps({"snapshot": sid, "upserted_rows": df.count()}))
        return 0

    if args.cmd == "overwrite":

        table = _load_cli_table(args)
        df = spark.read.parquet(args.input)
        sid = table.overwrite_partitions(df)
        # look the snapshot up by id: current_snapshot() could already
        # be a CONCURRENT writer's commit with a different summary
        snap = (
            next(
                (s for s in table.snapshots() if s["snapshot-id"] == sid),
                None,
            )
            if sid is not None
            else None
        )
        print(
            json.dumps(
                {
                    "snapshot": sid,
                    "rows": df.count() if sid is not None else 0,
                    "replaced_partitions": (
                        int(snap["summary"].get("replaced-partitions", 0))
                        if snap
                        else 0
                    ),
                }
            )
        )
        return 0

    if args.cmd == "update":

        sets: dict[str, str] = {}
        for item in args.set_exprs:
            col, _, expr = item.partition("=")
            if not _ or not col.strip() or not expr.strip():
                raise SystemExit(f"--set must be COL=EXPR, got {item!r}")
            sets[col.strip()] = expr.strip()
        table = _load_cli_table(args)
        sid, n = table.update_where(
            spark, args.where, sets, mode=args.mode, branch=args.branch
        )
        print(json.dumps({"snapshot": sid, "updated_rows": n, "mode": args.mode}))
        return 0

    if args.cmd == "maintain":

        if args.expire_older_than_ms is not None and not args.expire_keep:
            raise SystemExit(
                "--expire-older-than-ms needs --expire-keep (the age cutoff "
                "composes with the keep-last window; without it nothing "
                "expires and the flag would be a silent no-op)"
            )
        table = _load_cli_table(args)
        auto = None
        fold_pos, fold_eq = args.fold_deletes, args.fold_equality_deletes
        if args.auto:
            from .sinks.iceberg_fs import plan_auto_fold

            auto = plan_auto_fold(table.metadata(), args.fold_threshold)
            fold_pos = fold_pos or auto["fold_position"]
            fold_eq = fold_eq or auto["fold_equality"]
        folded = table.rewrite_position_deletes(spark) if fold_pos else None
        folded_eq = (
            table.rewrite_equality_deletes(spark) if fold_eq else None
        )
        rewritten = table.rewrite_data_files(
            spark, target_bytes=args.target_bytes, min_files=args.min_files
        )
        manifests_rewritten = (
            table.rewrite_manifests(target_size_bytes=args.manifest_target_bytes)
            if args.rewrite_manifests
            else None
        )
        expired = (
            table.expire_snapshots(args.expire_keep, args.expire_older_than_ms)
            if args.expire_keep
            else []
        )
        orphaned = (
            table.remove_orphan_files(args.remove_orphans_older_than)
            if args.remove_orphans_older_than is not None
            else []
        )
        stats_entry = (
            table.compute_partition_stats() if args.partition_stats else None
        )
        col_entry = (
            table.compute_column_stats(spark) if args.column_stats else None
        )
        if args.incremental_column_stats:
            col_entry = table.update_column_stats_incremental(spark)
        print(
            json.dumps(
                {
                    "rewrite_snapshot": rewritten,
                    "rewrite_manifests_snapshot": manifests_rewritten,
                    "fold_deletes_snapshot": folded,
                    "fold_equality_deletes_snapshot": folded_eq,
                    "auto_fold": auto,
                    "expired_data_files": len(expired),
                    "orphans_removed": len(orphaned),
                    "partition_stats": (
                        stats_entry["statistics-path"] if stats_entry else None
                    ),
                    "column_stats": (
                        col_entry["statistics-path"] if col_entry else None
                    ),
                }
            )
        )
        return 0

    if args.cmd == "compact":
        from .recovery.compactor import compact_table

        results = compact_table(
            spark,
            args.root,
            target_bytes=args.target_bytes,
            min_files=args.min_files,
            dry_run=args.dry_run,
        )
        print(json.dumps([r.__dict__ for r in results]))
        return 0

    cfg = _config_from_args(args)

    if args.cmd == "export-batch":
        from .streaming import export_batch

        counts = export_batch(spark, args.input, args.signal, cfg)
        print(json.dumps({"appended": counts}))
        return 0

    from .streaming import start_export_stream

    telemetry_path = getattr(args, "progress_log", None)
    if telemetry_path:
        from .streaming.telemetry import attach_progress_logger

        attach_progress_logger(spark, telemetry_path)

    q = start_export_stream(
        spark,
        args.input,
        args.signal,
        cfg,
        args.checkpoint,
        max_files_per_trigger=args.max_files_per_trigger,
        trigger_once=args.once,
    )
    q.awaitTermination()
    if telemetry_path:
        # listener delivery is async on the driver bus; give short-lived
        # --once runs a moment to flush the final progress event before
        # the JVM exits (long-running streams don't need this)
        import time

        from .streaming.telemetry import read_progress_log

        deadline = time.time() + 10
        while time.time() < deadline:
            if any(
                e["event"] == "progress" for e in read_progress_log(telemetry_path)
            ):
                break
            time.sleep(0.25)
    return 0


if __name__ == "__main__":
    sys.exit(main())
