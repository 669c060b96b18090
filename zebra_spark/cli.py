"""CLI — parity with the reference binary's command surface
(reference src/main.rs:30-139): `text|image|audio insert|insert-from-files|
query|clear` against a database path.

Result rendering (sixel image preview, audio playback — src/main.rs:
216-231, 286-292) is out of engine scope; results print as tables.

Usage:
    python -m zebra_spark.cli --database-path /tmp/db text insert "a doc" "b doc"
    python -m zebra_spark.cli --database-path /tmp/db text insert-from-files f1.txt f2.txt
    python -m zebra_spark.cli --database-path /tmp/db text query "a doc" --k 3
    python -m zebra_spark.cli --database-path /tmp/db text clear
    python -m zebra_spark.cli --database-path /tmp/db image insert-from-files *.png
"""

from __future__ import annotations

import argparse
import sys
import time


def build_parser() -> argparse.ArgumentParser:
    from zebra_spark.index import FAMILIES

    p = argparse.ArgumentParser(prog="zebra-spark")
    p.add_argument("--database-path", required=True)
    p.add_argument("--cpus", default=None)
    p.add_argument(
        "--index", default="lsh", choices=tuple(FAMILIES),
        help="ANN index family recorded at database creation "
        "(ignored when opening an existing database, whose metadata "
        "already fixes the family)",
    )
    sub = p.add_subparsers(dest="modality", required=True)
    for modality in ("text", "image", "audio"):
        mp = sub.add_parser(modality)
        msub = mp.add_subparsers(dest="command", required=True)
        ins = msub.add_parser("insert")
        ins.add_argument("items", nargs="+")
        inf = msub.add_parser("insert-from-files")
        inf.add_argument("paths", nargs="+")
        inf.add_argument("--batch-size", type=int, default=100)  # ≙ main.rs:80-81
        q = msub.add_parser("query")
        q.add_argument("items", nargs="+")
        q.add_argument("--k", type=int, default=1)  # ≙ main.rs:86-87
        # label-prop (r14, VERDICT r13 #1): the semi-supervised
        # labeling lifecycle through the CLI.  Items are label=example
        # seed pairs — example is inline text for the text modality, a
        # file path for image/audio.  First call bootstraps the frozen
        # seed set; --add grows it (invalidating propagated labels);
        # either way the call then propagates to the backlog and
        # prints the per-label histogram.  No items = propagate only
        # (label whatever was inserted since the last call).
        lp = msub.add_parser("label-prop")
        lp.add_argument("items", nargs="*")
        lp.add_argument("--weighted", action="store_true")
        lp.add_argument(
            "--add", action="store_true",
            help="grow the existing seed set instead of bootstrapping",
        )
        # audit (r15, VERDICT r14 #2): the maintenance-gate family —
        # prints each needs_* gate bound to the database's own state
        # (n/a when the state doesn't exist), plus the ten-section
        # corpus snapshot audit when --sf-dir points at a fixture-
        # layout corpus and the export shard-balance gate when
        # --export-dir points at a published training-export tree.
        ad = msub.add_parser("audit")
        ad.add_argument("--sf-dir", default=None)
        ad.add_argument("--export-dir", default=None)
        msub.add_parser("clear")
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    from zebra_spark.database import ZebraDatabase
    from zebra_spark.session import get_spark

    spark = get_spark("zebra-cli", cpus=args.cpus)
    db = ZebraDatabase.open_or_create(
        spark, args.database_path, index_kind=args.index
    )
    t0 = time.perf_counter()

    if args.command == "clear":
        db.clear()
        print("cleared")
    elif args.command == "insert":
        if args.modality == "text":
            db.insert_texts(args.items)
        else:
            # binary modalities: inline items are file paths
            insert_from_files(db, args.modality, args.items)
        print(f"inserted {len(args.items)} documents")
    elif args.command == "insert-from-files":
        n = insert_from_files(db, args.modality, args.paths)
        print(f"inserted {n} documents from {len(args.paths)} paths")
    elif args.command == "query":
        if args.modality == "text":
            res = db.query_texts(args.items, k=args.k)
        else:
            blobs = [open(p, "rb").read() for p in args.items]
            res = db.query_blobs(blobs, modality=args.modality, k=args.k)
        for r in res.orderBy("query_id", "rank").collect():
            print(f"q{r.query_id} #{r.rank} dist={r.dist:.4f} id={r.vec_id} doc={r.doc!r}")
    elif args.command == "label-prop":
        n = label_prop(db, args.modality, args.items,
                       weighted=args.weighted, add=args.add)
        print(f"labeled {n} documents")
    elif args.command == "audit":
        res = db.audit(sf_dir=args.sf_dir, export_dir=args.export_dir)
        for gate in sorted(res["gates"]):
            val = res["gates"][gate]
            print(f"gate {gate}: {'n/a' if val is None else val}")
        if res["sections"] is not None:
            for r in res["sections"].collect():
                print(f"section {r.section}: rows={r.n_rows} "
                      f"checksum={r.checksum}")
    else:
        print(f"unsupported: {args.modality} {args.command}", file=sys.stderr)
        return 2
    print(f"({time.perf_counter() - t0:.2f}s)")  # ≙ per-op wall-clock, main.rs:146-160
    return 0


def insert_from_files(db, modality: str, paths: list[str]) -> int:
    """≙ CLI InsertFromFiles (src/main.rs:308-362): bulk file ingestion.
    Text files go through spark.read.text (one doc per file, matching the
    reference's whole-file reads); binaries through the binaryFile source.
    Batching is Spark's job (Arrow batches / task partitions), not a
    driver loop — the batch_size knob exists only for CLI parity."""
    spark = db.spark
    from pyspark.sql import functions as F

    if modality == "text":
        df = (
            spark.read.format("text")
            .option("wholetext", "true")
            .load(paths)
            .withColumnRenamed("value", "doc")
        )
        n = df.count()
        db.insert_documents(df, text_col="doc")
        return n
    # image/audio: opaque binary + deterministic fake embedding offline
    from zebra_spark.multimodal import decode_and_embed, to_multimodal

    raw = spark.read.format("binaryFile").load(paths)
    blobs = to_multimodal(
        raw.withColumn("id", F.monotonically_increasing_id()), "id", "content", modality
    )
    feats = decode_and_embed(blobs, dim=db.meta["dim"])
    records = feats.select(
        F.col("id").cast("string").alias("doc"),
        F.col("embedding").cast("array<double>").alias("embedding"),
        F.col("modality"),
    )
    n = records.count()
    db.insert_records(records)
    return n


def label_prop(
    db, modality: str, items: list[str], weighted: bool = False,
    add: bool = False,
) -> int:
    """The semi-supervised labeling lifecycle as one CLI verb, over
    ZebraDatabase.propagate_labels / add_label_seeds (no kernel code
    here).  `items` are `label=example` seed pairs; text examples are
    embedded with the database's model, binary examples are file paths
    decoded+embedded through the multimodal path (the query_blobs
    shape).  Prints the propagated per-label histogram and returns the
    labeled-row count."""
    from pyspark.sql import functions as F

    pairs: list[tuple[str, object]] = []
    for it in items:
        if "=" not in it:
            raise SystemExit(
                f"label-prop items are label=example pairs, got {it!r}"
            )
        label, example = it.split("=", 1)
        pairs.append((label, example))
    if modality != "text" and pairs:
        # decode blobs to embeddings first (CLI-sized batch), then hand
        # (label, vector) pairs to the facade
        from zebra_spark.multimodal import decode_and_embed, to_multimodal

        blobs = []
        for i, (_, p) in enumerate(pairs):
            with open(str(p), "rb") as f:
                blobs.append((i, f.read()))
        raw = db.spark.createDataFrame(blobs, "id bigint, content binary")
        feats = decode_and_embed(
            to_multimodal(raw, "id", "content", modality), dim=db.meta["dim"]
        )
        got = {
            r.id: [float(x) for x in r.embedding]
            for r in feats.select("id", "embedding").collect()
        }
        missing = [i for i in range(len(pairs)) if i not in got]
        if missing:
            # decode_and_embed drops rows it can't decode — name the
            # offending file(s) instead of KeyError-ing on got[i]
            bad = ", ".join(str(pairs[i][1]) for i in missing)
            raise SystemExit(
                f"could not decode {len(missing)} {modality} seed "
                f"file(s): {bad}"
            )
        pairs = [(label, got[i]) for i, (label, _) in enumerate(pairs)]
    if add:
        if not pairs:
            raise SystemExit("label-prop --add needs label=example items")
        db.add_label_seeds(pairs)
        labels = db.propagate_labels(weighted=weighted)
    else:
        labels = db.propagate_labels(seeds=pairs or None, weighted=weighted)
    shown = "label_name" if "label_name" in labels.columns else "label"
    hist = (
        labels.groupBy(shown).agg(F.count(F.lit(1)).alias("n"))
        .orderBy(shown)
        .collect()
    )
    for r in hist:
        print(f"label {r[shown]!r}: {r.n} docs")
    return sum(r.n for r in hist)


if __name__ == "__main__":
    raise SystemExit(main())
