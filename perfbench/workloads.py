"""The benchmark workloads, driven through the program's public
functions in `razulibs_spark.plans`, `sources`, `operators` and `sinks`.

Each workload generates its inputs (`generate`, untimed) and runs one
closed-loop iteration at a time (`iterate`, timed) into fresh output
directories. `check` (untimed) then compares the iteration's outputs
with the generator's ground truth, removes them, and returns an
`Outcome` whose `problems` list is empty when every check passed.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field

from perfbench import gen
from perfbench.trace import Tracer, tree_bytes

BUCKET = "edepot"


@dataclass
class Outcome:
    items: int
    written_bytes: int
    problems: list[str] = field(default_factory=list)


def _md5_file(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.md5(fh.read()).hexdigest()


# The local fake store hides every key ending in `.meta.json` from its
# listing (it keeps its own object metadata under that suffix), so SIP
# metadata documents are stored under `.jsonld` keys.
_DOC_SUFFIX = r"\.meta\.json$"


def bucket_key(filename_col):
    """Object key column for a SIP-relative filename column."""
    from pyspark.sql import functions as F

    return F.regexp_replace(filename_col, _DOC_SUFFIX, ".jsonld")


def _upload_frame(manifest, root: str, prefix: str = ""):
    """(key, local_path, md5hash, file_size) rows for upload_from_manifest."""
    from pyspark.sql import functions as F

    return manifest.select(
        bucket_key(F.concat(F.lit(prefix), F.col("filename"))).alias("key"),
        F.concat(F.lit(root.rstrip("/") + "/"), F.col("filename")).alias("local_path"),
        "md5hash", "file_size",
    )


def _verify_bucket(tracer: Tracer, spark, factory, expected) -> list[str]:
    """Re-list the bucket and join the listing against the expected
    (key, file_size) rows: every key present on both sides with the
    same size. The local store reports the object size as its ETag."""
    from pyspark.sql import functions as F

    from razulibs_spark.sinks.object_store import list_objects

    with tracer.span("object_store.verify"):
        listing = list_objects(spark, factory, BUCKET)
        bad = (
            expected.select("key", "file_size")
            .join(listing.select("key", "size"), "key", "full_outer")
            .filter(F.col("size").isNull() | F.col("file_size").isNull()
                    | (F.col("size") != F.col("file_size")))
            .select("key").limit(5).collect()
        )
    return [f"bucket/manifest mismatch at {r['key']}" for r in bad]


def _check_md5_sample(rows, bucket_root: str, k: int, seed: int) -> list[str]:
    """Hash a seeded sample of the manifest's files, both the local
    copy and the uploaded object, and compare with the manifest MD5."""
    problems = []
    rows = sorted(rows, key=lambda r: r["key"])
    for r in random.Random(seed).sample(rows, min(k, len(rows))):
        want = r["md5hash"]
        if _md5_file(r["local_path"]) != want:
            problems.append(f"manifest md5 differs from hashlib for {r['key']}")
        if _md5_file(os.path.join(bucket_root, BUCKET, r["key"])) != want:
            problems.append(f"bucket object {r['key']} differs from its manifest md5")
    return problems


class Workload:
    """Interface shared by the workloads; the per-iteration input change
    defaults to nothing."""

    name = ""

    def generate(self) -> None:
        raise NotImplementedError

    def before(self, it: int) -> None:
        """Untimed input change ahead of iteration `it`."""

    def iterate(self, spark, tracer: Tracer, it: int) -> dict:
        raise NotImplementedError

    def check(self, spark, tracer: Tracer, it: int, r: dict) -> Outcome:
        raise NotImplementedError


class SipLifecycle(Workload):
    """The archive lifecycle of one accession, in two phases per
    iteration.

    Ingest: `;`-CSV metadata and DROID output → triples → SIP (per-entity
    documents, manifest, PREMIS events, lock) → payload manifest → upload
    with the only-if-new listing join → verification join.
    Revision: ~2% of the payload files and documents are edited; the SIP
    is re-hashed, reconciled against the depot manifest, only the changed
    files are uploaded and verified, and the whole graph is exported to
    Turtle and read back."""

    name = "sip_lifecycle"

    def __init__(self, work: str, seed: int, n_records: int):
        self.work, self.seed, self.n_records = work, seed, n_records

    def generate(self) -> None:
        self.acc = gen.make_accession(os.path.join(self.work, "input"), self.seed, self.n_records)

    def before(self, it: int) -> None:
        """A fresh copy of the payload; the revision phase edits it."""
        shutil.copytree(self.acc.payload_dir,
                        os.path.join(self.work, f"out-{it}", "tree", "bestanden"))

    def iterate(self, spark, tracer: Tracer, it: int) -> dict:
        from pyspark.sql import functions as F

        from razulibs_spark.operators.manifest import (
            incremental_sync_plan, manifest_from_directory, manifest_from_json_map,
            manifest_to_json_map, validate_manifest,
        )
        from razulibs_spark.plans.collect_rdf import collect_rdf
        from razulibs_spark.plans.csv2rdf import csv2rdf_triples
        from razulibs_spark.plans.sip import assemble_sip
        from razulibs_spark.sinks.object_store import (
            list_objects, make_local_client_factory, upload_from_manifest,
        )
        from razulibs_spark.sources.csv_source import read_droid_csv, read_metadata_csv
        from razulibs_spark.sources.rdf_io import read_turtle, write_turtle
        from razulibs_spark.sources.vocab import vocab_from_file

        acc = self.acc
        out = os.path.join(self.work, f"out-{it}")
        tree = os.path.join(out, "tree")
        sip_dir = os.path.join(tree, "metadata")
        store = os.path.join(out, "store")
        depot_manifest = os.path.join(out, "depot-manifest.json")
        export = os.path.join(out, "graph.ttl")
        factory = make_local_client_factory(store)

        # Ingest.
        with tracer.span("csv_source.read"):
            metadata, n_rows = tracer.settle(
                read_metadata_csv(spark, acc.metadata_csv, schema=gen.METADATA_DDL))
            droid, _ = tracer.settle(read_droid_csv(spark, acc.droid_csv, schema=gen.DROID_DDL))
            vocab, _ = tracer.settle(vocab_from_file(spark, acc.vocab_csv))
        tracer.count("csv_source.rows_read", n_rows or 0)

        with tracer.span("csv2rdf.triples"):
            triples = csv2rdf_triples(metadata, droid, vocab).persist()
            n_triples = triples.count()
        tracer.count("csv2rdf.triples", n_triples)
        tracer.count("csv2rdf.records", acc.n_records)

        with tracer.span("sip.assemble"):
            sip = assemble_sip(spark, triples, sip_dir)

        with tracer.span("manifest.scan"):
            payload = manifest_from_directory(
                spark, os.path.join(tree, "bestanden"), base_segment=tree + "/").persist()
            tracer.count_manifest(payload)
        ingested = payload.unionByName(sip["manifest"].withColumn(
            "filename", F.concat(F.lit("metadata/"), "filename"))).persist()
        with tracer.span("object_store.list"):
            listing, _ = tracer.settle(list_objects(spark, factory, BUCKET))
        with tracer.span("object_store.upload"):
            n_ingest = upload_from_manifest(_upload_frame(ingested, tree), BUCKET, factory,
                                            listing=listing)
        problems = _verify_bucket(tracer, spark, factory, _upload_frame(ingested, tree))
        # the depot's record of what it holds, as the K3 manifest map
        with open(depot_manifest, "w", encoding="utf-8") as fh:
            fh.write(manifest_to_json_map(ingested))

        # Revision: users edit ~2% of the files (a few small writes).
        files = [f"bestanden/{r['name']}" for r in acc.records] + [
            f"metadata/{f}" for f in os.listdir(sip_dir) if f.endswith(".meta.json")]
        mutated = gen.mutate_files(tree, files, self.seed, it)

        with tracer.span("manifest.scan"):
            scan = manifest_from_directory(spark, tree, base_segment=tree + "/").filter(
                F.col("filename").startswith("bestanden/")
                | F.col("filename").endswith(".meta.json")).persist()
            n_files = scan.count()
            tracer.count_manifest(scan)
        tracer.count("manifest.files_scanned", n_files)

        with tracer.span("manifest.diff"):
            with open(depot_manifest, encoding="utf-8") as fh:
                stored = manifest_from_json_map(spark, fh.read())
            report = (validate_manifest(stored, scan).filter(F.col("status") != "ok")
                      .collect())
            plan = incremental_sync_plan(scan, stored).persist()
            to_sync = {r["filename"] for r in plan.select("filename").collect()}
        tracer.count("manifest.files_to_sync", len(to_sync))

        with tracer.span("object_store.upload"):
            n_sync = upload_from_manifest(_upload_frame(plan, tree), BUCKET, factory)
        problems += _verify_bucket(tracer, spark, factory, _upload_frame(scan, tree))
        tracer.count("object_store.files_uploaded", n_ingest + n_sync)

        with tracer.span("collect_rdf.union"):
            graph = collect_rdf(spark, os.path.join(sip_dir, "*.meta.json")).persist()
            n_graph = graph.count()
        with tracer.span("rdf_io.turtle_write"):
            write_turtle(graph, export)
        tracer.count("rdf_io.turtle_bytes", tree_bytes(export))
        with tracer.span("rdf_io.turtle_read"):
            n_back = read_turtle(spark, export).count()
        return dict(out=out, tree=tree, store=store, sip=sip, n_triples=n_triples,
                    ingested=ingested, n_ingest=n_ingest, mutated=mutated, scan=scan,
                    n_files=n_files, report=report, to_sync=to_sync, n_sync=n_sync,
                    n_graph=n_graph, n_back=n_back, problems=problems)

    def check(self, spark, tracer: Tracer, it: int, r: dict) -> Outcome:
        from pyspark.sql import functions as F

        acc, sip, mutated, problems = self.acc, r["sip"], r["mutated"], r["problems"]
        n_events = sip["events"].count()
        n_ingested = r["ingested"].count()
        tracer.count("events.n_events", n_events)
        tracer.count("object_store.candidates", n_ingested + r["n_files"])
        if r["n_triples"] != acc.expected_triples:
            problems.append(f"{r['n_triples']} triples, expected {acc.expected_triples}")
        if sip["n_documents"] != acc.expected_docs:
            problems.append(f"{sip['n_documents']} documents, expected {acc.expected_docs}")
        if n_events != acc.expected_events:
            problems.append(f"{n_events} events, expected {acc.expected_events}")
        if sip["events"].filter(F.col("outcome") != "suc").count():
            problems.append("a fixity event failed")
        if r["n_ingest"] != n_ingested or n_ingested != acc.n_records + acc.expected_docs:
            problems.append(f"ingest uploaded {r['n_ingest']} of {n_ingested} files")
        if r["to_sync"] != mutated:
            problems.append(f"sync plan has {len(r['to_sync'])} files, {len(mutated)} were changed")
        if {(x["filename"], x["status"]) for x in r["report"]} != {
                (f, "mismatch") for f in mutated}:
            problems.append(f"reconcile reported {len(r['report'])} non-ok files")
        if r["n_sync"] != len(mutated):
            problems.append(f"sync uploaded {r['n_sync']}, {len(mutated)} changed")
        if r["n_graph"] != acc.expected_triples:
            problems.append(f"collected {r['n_graph']} triples, expected {acc.expected_triples}")
        if r["n_back"] != r["n_graph"]:
            problems.append(f"turtle read back {r['n_back']} of {r['n_graph']} triples")
        # every changed file and a sample of the rest, after the revision
        final = _upload_frame(r["scan"], r["tree"]).collect()
        edited = [x for x in final if x["local_path"][len(r["tree"]) + 1:] in mutated]
        problems += _check_md5_sample(edited, r["store"], len(edited), 0)
        problems += _check_md5_sample(final, r["store"], 16, self.seed * 1000 + it)

        out = r["out"]
        written = (tree_bytes(out) - tree_bytes(os.path.join(r["tree"], "bestanden")))
        spark.catalog.clearCache()
        shutil.rmtree(out)
        return Outcome(acc.n_records, written, problems)


JACCARD_THRESHOLD = 0.8
RECALL_FLOOR = 0.85


class CorpusCuration(Workload):
    """LLM-corpus control workload, no RDF and no per-entity files:
    quality/language filter with exact dedup → word shingles → MinHash
    → LSH candidates → Jaccard verification → PII-scrubbed parquet."""

    name = "corpus_curation"

    def __init__(self, work: str, seed: int, n_docs: int):
        self.work, self.seed, self.n_docs = work, seed, n_docs

    def generate(self) -> None:
        self.corpus = gen.make_corpus(
            os.path.join(self.work, "input", "corpus.parquet"), self.seed, self.n_docs)

    def iterate(self, spark, tracer: Tracer, it: int) -> dict:
        from pyspark.sql import functions as F

        from razulibs_spark.operators.dedup import (
            jaccard_pairs, lsh_candidate_pairs, minhash_signatures, word_shingles,
        )
        from razulibs_spark.operators.text import corpus_prep, pii_scrub

        c = self.corpus
        out = os.path.join(self.work, f"out-{it}", "kept.parquet")
        docs = spark.read.parquet(c.path)

        with tracer.span("text.prep"):
            prep = corpus_prep(docs).persist()
            n_kept = prep.count()
        tracer.count("text.docs_in", c.n_docs)
        tracer.count("text.docs_kept", n_kept)
        kept = docs.join(prep.select("doc_id"), "doc_id", "left_semi")

        with tracer.span("dedup.shingle"):
            shingles = word_shingles(kept).persist()
            shingles.count()
        with tracer.span("dedup.signature"):
            sigs, _ = tracer.settle(minhash_signatures(shingles))
        with tracer.span("dedup.candidates"):
            cands = lsh_candidate_pairs(sigs).persist()
            n_cand = cands.count()
        with tracer.span("dedup.verify"):
            pairs = [(r["d1"], r["d2"], r["jaccard"]) for r in
                     jaccard_pairs(shingles, JACCARD_THRESHOLD, cands).collect()]
        tracer.count("dedup.candidate_pairs", n_cand)
        tracer.count("dedup.verified_pairs", len(pairs))

        drop = sorted({d2 for _, d2, _ in pairs})
        with tracer.span("text.write"):
            final = pii_scrub(kept.filter(~F.col("doc_id").isin(drop)))
            final.select("doc_id", F.col("scrubbed_text").alias("text")).write.parquet(out)
        return dict(out=out, n_kept=n_kept, pairs=pairs, drop=drop)

    def check(self, spark, tracer: Tracer, it: int, r: dict) -> Outcome:
        from pyspark.sql import functions as F

        from razulibs_spark.operators.text import PII_EMAIL_RE

        c, out, pairs, drop, n_kept = self.corpus, r["out"], r["pairs"], r["drop"], r["n_kept"]
        problems: list[str] = []
        back = spark.read.parquet(out)
        written_ids = {r["doc_id"] for r in back.select("doc_id").collect()}
        n_leaked = back.filter(F.col("text").rlike(PII_EMAIL_RE)).count()
        kept_ids = written_ids | set(drop)
        for group in c.exact_groups:
            if len(kept_ids.intersection(group)) > 1:
                problems.append(f"exact duplicates {group} not collapsed")
        found = {(d1, d2) for d1, d2, _ in pairs}
        eligible = [p for p in c.near_pairs if kept_ids.issuperset(p)]
        hits = sum(p in found for p in eligible)
        tracer.count("dedup.planted_found", hits)
        tracer.count("dedup.planted_pairs", len(eligible))
        if not eligible or hits / len(eligible) < RECALL_FLOOR:
            problems.append(f"near-duplicate recall {hits}/{len(eligible)} below {RECALL_FLOOR}")
        for d1, d2, _ in pairs:
            if gen.jaccard(c.texts[d1], c.texts[d2]) < JACCARD_THRESHOLD - 1e-6:
                problems.append(f"pair ({d1}, {d2}) is below the Jaccard threshold")
        if n_leaked:
            problems.append(f"{n_leaked} written documents still hold an e-mail address")
        if len(written_ids) != n_kept - len(drop):
            problems.append(f"wrote {len(written_ids)} documents, expected {n_kept - len(drop)}")

        written = tree_bytes(out)
        spark.catalog.clearCache()
        shutil.rmtree(os.path.dirname(out))
        return Outcome(c.n_docs, written, problems)


WORKLOADS = {w.name: w for w in (SipLifecycle, CorpusCuration)}
