"""corpus_dedup: the LLM-data dedup pipeline over the sf0.1 corpus.

The inputs are the repository's synthetic sf0.1 ``documents`` (5000
rows) and ``embeddings`` (2000 64-d vectors) tables, stored unchanged in
``perfbench/data``. The seed draws the 80/20 corpus/batch split of the
documents and the removed set (1/7 of the corpus); set-up writes the
split as parquet inside the run directory. The reference verdicts come
from DuckDB SQL over the same files (candidates by banded MinHash,
exact bigram Jaccard), and the embedding pairs from numpy.
"""

from __future__ import annotations

import os
import shutil
from pathlib import Path

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from geopyspark_spark.functions import dedup as fdedup
from geopyspark_spark.functions import similarity as fsim
from geopyspark_spark.streaming.documents import (DOCUMENTS_SCHEMA,
                                                  stream_dedup_against_corpus)

from harness import CheckFailed

DATA = Path(__file__).resolve().parent / "data"
NUM_HASHES, BANDS, GRAM_N, MIN_JACCARD = 16, 4, 2, 0.5
#: the threshold and plane count of the repository's own LSH near-dup
#: query on this table: its closest pair to 0.45 is 1e-4 away
COSINE, PLANES = 0.45, 6
STREAM_BATCHES = 4


def _ref_pairs(corpus: str, batch: str) -> str:
    """DuckDB CTEs ending in ``cand`` (batch x corpus pairs sharing a
    MinHash band) and ``verified`` (those with bigram Jaccard >=
    MIN_JACCARD), over the views ``docs``, ``corpus`` and ``batch``."""
    rows_per_band = NUM_HASHES // BANDS
    hashes = ", ".join(f"({k}, {a}::BIGINT, {b}::BIGINT)"
                       for k, (a, b) in enumerate(fdedup.minhash_params(NUM_HASHES)))
    prime = fdedup.MINHASH_PRIME
    return f"""
WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM docs),
grams AS (SELECT DISTINCT doc_id, t[i + 1] || ' ' || t[i + 2] AS shingle
          FROM (SELECT doc_id, t, unnest(range(len(t) - 1)) AS i FROM base)),
ids AS (SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % {prime} AS token_id
        FROM grams),
hashes(k, a, b) AS (VALUES {hashes}),
sigs AS (SELECT doc_id, k, MIN((a * token_id + b) % {prime}) AS mh
         FROM ids CROSS JOIN hashes GROUP BY doc_id, k),
banded AS (SELECT doc_id, k // {rows_per_band} AS band,
                  string_agg(CAST(mh AS VARCHAR), '-' ORDER BY k) AS band_key
           FROM sigs GROUP BY doc_id, k // {rows_per_band}),
cand AS (SELECT DISTINCT bb.doc_id AS doc_a, cb.doc_id AS doc_b
         FROM banded bb JOIN {batch} ba ON ba.doc_id = bb.doc_id
         JOIN banded cb ON cb.band = bb.band AND cb.band_key = bb.band_key
         JOIN {corpus} co ON co.doc_id = cb.doc_id
         WHERE bb.doc_id <> cb.doc_id),
sizes AS (SELECT doc_id, COUNT(*) AS n FROM grams GROUP BY doc_id),
inter AS (SELECT c.doc_a, c.doc_b, COUNT(ga.shingle) AS k
          FROM cand c JOIN grams ga ON ga.doc_id = c.doc_a
          LEFT JOIN grams gb ON gb.doc_id = c.doc_b AND gb.shingle = ga.shingle
          WHERE gb.shingle IS NOT NULL GROUP BY c.doc_a, c.doc_b),
verified AS (SELECT i.doc_a, i.doc_b FROM inter i
             JOIN sizes sa ON sa.doc_id = i.doc_a JOIN sizes sb ON sb.doc_id = i.doc_b
             WHERE i.k >= {MIN_JACCARD} * (sa.n + sb.n - i.k))
"""


def _components(n_ids, edges) -> dict:
    """doc_id -> smallest doc_id of its connected component."""
    parent = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {i: find(i) for i in n_ids}


class Corpus:
    def __init__(self, rng, workdir):
        self.dir = workdir
        os.makedirs(workdir, exist_ok=True)
        docs = pq.read_table(DATA / "documents.parquet")
        ids = docs.column("doc_id").to_numpy()
        order = rng.permutation(ids)
        batch_ids = np.sort(order[: len(ids) // 5])
        corpus_ids = np.sort(order[len(ids) // 5:])
        removed_ids = np.sort(rng.choice(corpus_ids, len(corpus_ids) // 7, replace=False))
        self.paths = {"docs": str(DATA / "documents.parquet"),
                      "emb": str(DATA / "embeddings.parquet")}
        for name, keep in (("corpus", corpus_ids), ("batch", batch_ids)):
            self.paths[name] = os.path.join(workdir, f"{name}.parquet")
            pq.write_table(docs.filter(pa.array(np.isin(ids, keep))), self.paths[name])
        self.paths["removed"] = os.path.join(workdir, "removed.parquet")
        pq.write_table(pa.table({"doc_id": pa.array(removed_ids, pa.int64())}),
                       self.paths["removed"])
        # the stream source: the batch split into one file per micro-batch
        self.stream_src = os.path.join(workdir, "stream_src")
        os.makedirs(self.stream_src, exist_ok=True)
        batch = pq.read_table(self.paths["batch"])
        step = -(-batch.num_rows // STREAM_BATCHES)
        for i in range(STREAM_BATCHES):
            pq.write_table(batch.slice(i * step, step),
                           os.path.join(self.stream_src, f"part-{i}.parquet"))

    def load(self, spark):
        self.spark = spark
        read = spark.read.parquet
        self.corpus = read(self.paths["corpus"])
        self.batch = read(self.paths["batch"])
        self.docs = read(self.paths["docs"])
        self.removed = read(self.paths["removed"])
        self.emb = read(self.paths["emb"])

    def references(self) -> dict:
        """The expected outputs, as attributes to set on the workload."""
        con = duckdb.connect()
        try:
            for name in ("docs", "corpus", "batch", "removed"):
                con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{self.paths[name]}')")
            con.execute("CREATE VIEW shrunk AS SELECT * FROM corpus "
                        "WHERE doc_id NOT IN (SELECT doc_id FROM removed)")

            def verdicts(corpus):
                rows = con.execute(_ref_pairs(corpus, "batch")
                                   + "SELECT b.doc_id, MIN(v.doc_b) FROM batch b "
                                   "LEFT JOIN verified v ON v.doc_a = b.doc_id "
                                   "GROUP BY b.doc_id").fetchall()
                return {(d, m is not None, m) for d, m in rows}

            want_verdicts = verdicts("corpus")
            want_shrunk = verdicts("shrunk")
            edges = con.execute(_ref_pairs("docs", "docs")
                                + "SELECT doc_a, doc_b FROM verified").fetchall()
            n_grams = con.execute(
                "WITH base AS (SELECT doc_id, string_split(trim(text), ' ') AS t FROM corpus) "
                "SELECT COUNT(DISTINCT doc_id), SUM(n) FROM (SELECT doc_id, COUNT(DISTINCT "
                "t[i + 1] || ' ' || t[i + 2]) AS n FROM (SELECT doc_id, t, "
                "unnest(range(len(t) - 1)) AS i FROM base) GROUP BY doc_id)").fetchone()
            doc_ids = [r[0] for r in con.execute("SELECT doc_id FROM docs").fetchall()]
        finally:
            con.close()
        emb = pq.read_table(self.paths["emb"])
        v = np.stack(emb.column("embedding").to_numpy(zero_copy_only=False)).astype(np.float64)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        ids = emb.column("vec_id").to_numpy()
        cos = v @ v.T
        a, b = np.nonzero(np.triu(cos >= COSINE, 1))
        return {
            "want_verdicts": want_verdicts, "want_shrunk": want_shrunk,
            "want_sigs": (int(n_grams[0]), int(n_grams[1])),
            # dedup_documents pairs each unordered pair once; the DuckDB
            # self-join lists both orders
            "want_edges": len(edges) // 2,
            "want_components": _components(doc_ids, edges),
            "want_cos": {(int(ids[i]), int(ids[j])): float(cos[i, j]) for i, j in zip(a, b)},
        }

    def pair_counts(self, rec):
        """Candidate pairs the program's LSH stage examines and verified
        pairs it emits for ``dedup_documents``, counted with the public
        functions that step is built from. Traced runs only, once after
        the passes and under a job group of its own."""
        step = "functions.dedup.dedup_documents"
        with rec.tagged("counts", step):
            cand = fdedup.lsh_candidate_pairs(self.docs, NUM_HASHES, BANDS).count()
            ver = fdedup.verified_pairs(self.docs, NUM_HASHES, BANDS, GRAM_N, MIN_JACCARD).count()
        rec.sample(f"{step}.candidate_pairs", float(cand))
        rec.sample(f"{step}.verified_pairs", float(ver))
        rec.sample(f"{step}.pairs_useful_ratio", ver / max(cand, 1))
        rec.check(ver == self.want_edges, f"{ver} verified pairs, DuckDB has {self.want_edges}")

    def run_pass(self, rec):
        sig_path = os.path.join(self.dir, "sigs", rec.pass_id)
        out_path = os.path.join(self.dir, "verdicts", rec.pass_id)
        ckpt = os.path.join(self.dir, "ckpt", rec.pass_id)
        for p in (sig_path, out_path, ckpt):
            shutil.rmtree(p, ignore_errors=True)
        def write_read(sigs):
            sigs.write.parquet(sig_path)
            back = self.spark.read.parquet(sig_path)
            row = back.agg(F.count("*").alias("n"), F.sum("n_grams").alias("g"),
                           F.sum(F.size("band_keys")).alias("b")).first()
            return back, (row["n"], row["g"], row["b"])

        def sigs_check(got):
            n, g, b = got[1]
            if (n, g) != self.want_sigs or b != n * BANDS:
                raise CheckFailed(f"signatures {(n, g, b)}, expected {self.want_sigs}")

        got = rec.step("functions.dedup.corpus_signatures",
                       lambda: fdedup.corpus_signatures(self.corpus, NUM_HASHES, BANDS, GRAM_N),
                       write_read, sigs_check)
        sigs = got[0] if got else self.spark.read.parquet(sig_path)

        def verdict_rows(df):
            return {(r["doc_id"], bool(r["is_dup"]), r["match_doc_id"])
                    for r in df.select("doc_id", "is_dup", "match_doc_id").collect()}

        def same_as(want):
            def check(got):
                if got != want:
                    raise CheckFailed(f"{len(got ^ want)} verdicts differ from DuckDB")
            return check

        kw = dict(num_hashes=NUM_HASHES, bands=BANDS, n=GRAM_N, min_jaccard=MIN_JACCARD)
        rec.step("functions.dedup.dedup_against_corpus",
                 lambda: fdedup.dedup_against_corpus(self.batch, corpus_sigs=sigs, **kw),
                 verdict_rows, same_as(self.want_verdicts))
        rec.step("functions.dedup.remove_from_signatures",
                 lambda: fdedup.dedup_against_corpus(
                     self.batch, corpus_sigs=fdedup.remove_from_signatures(sigs, self.removed),
                     **kw),
                 verdict_rows, same_as(self.want_shrunk))

        def components(df):
            return {r["doc_id"]: (r["component"], bool(r["keep"])) for r in df.collect()}

        def components_check(got):
            want = {d: (c, d == c) for d, c in self.want_components.items()}
            if got != want:
                bad = [d for d in want if got.get(d) != want[d]]
                raise CheckFailed(f"{len(bad)} documents in the wrong component")

        rec.step("functions.dedup.dedup_documents",
                 lambda: fdedup.dedup_documents(self.docs, NUM_HASHES, BANDS, GRAM_N,
                                                MIN_JACCARD),
                 components, components_check)

        def pairs_check(got):
            # LSH blocking trades recall for speed: every reported pair
            # must be a true pair with its cosine, and some must be found
            if not got or len(set((a, b) for a, b, _ in got)) != len(got):
                raise CheckFailed(f"{len(got)} pairs, none or repeated")
            for a, b, sim in got:
                want = self.want_cos.get((a, b))
                if want is None or abs(want - sim) > 1e-5:
                    raise CheckFailed(f"pair {(a, b, sim)}: cosine {want}")

        rec.step("functions.similarity.cosine_near_dup",
                 lambda: fsim.cosine_near_dup(self.emb, threshold=COSINE, blocking="lsh",
                                              num_planes=PLANES),
                 lambda df: [(r["id_a"], r["id_b"], r["sim"]) for r in df.collect()],
                 pairs_check)

        def drain():
            stream = (self.spark.readStream.schema(DOCUMENTS_SCHEMA)
                      .option("maxFilesPerTrigger", 1).parquet(self.stream_src))
            q = stream_dedup_against_corpus(stream, sigs, out_path, checkpoint=ckpt,
                                            query_name=f"dedup_{rec.pass_id}", **kw)
            q.awaitTermination()
            return q

        def sink(q):
            rec.stream_run(q, "streaming.documents.stream_dedup_against_corpus")
            rec.streaming_progress(q, "streaming.documents.stream_dedup_against_corpus")
            batches = sum(1 for p in q.recentProgress if p.numInputRows)
            if batches != STREAM_BATCHES:
                raise CheckFailed(f"{batches} micro-batches, expected {STREAM_BATCHES}")
            return verdict_rows(self.spark.read.parquet(out_path))

        rec.step("streaming.documents.stream_dedup_against_corpus", drain,
                 sink, same_as(self.want_verdicts))
        for p in (sig_path, out_path, ckpt):
            shutil.rmtree(p, ignore_errors=True)


def setup(rng, workdir):
    return Corpus(rng, os.path.join(str(workdir), "corpus"))

