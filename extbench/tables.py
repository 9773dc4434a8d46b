"""Seeded input tables for the extraction benchmark, and its oracle check.

Document content is fixed (a constant RNG draws the texts), so every run
extracts the same bytes; ``--seed`` only chooses the stored row order, the
split of rows into files and, for the resume workload, which urls the
template checkpoint has already committed.  The program never sees the
seed, only the parquet tables written here.

Page bytes come from ``sources.pages.build_pages``; the expected outcome
of each page comes from its DuckDB oracle, ``expected_text_sql('duckdb')``.
"""

from __future__ import annotations

import os
import random
from pathlib import Path

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from textextraction_spark.sources.pages import URL_SQL, build_pages, expected_text_sql

# the testdata generator's vocabulary and length range (sf0.1: 44..577
# chars, mean 297)
VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (41, 15, 15, 15, 14)
PAGE_COLUMNS = ("url", "warc_ts", "html", "text", "lang")


def documents(n: int) -> pa.Table:
    """The ``documents`` table the pages are built from (fixed content)."""
    rng = random.Random(20260101)
    texts = [
        " ".join(rng.choice(VOCAB) for _ in range(rng.randint(8, 100)))
        for _ in range(n)
    ]
    return pa.table(
        {
            "doc_id": pa.array(range(n), pa.int64()),
            "text": texts,
            "lang": rng.choices(LANGS, LANG_WEIGHTS, k=n),
        }
    )


def base_pages(spark, docs: pa.Table, sf_dir: Path, n_files: int) -> pa.Table:
    """One page per document, built by ``build_pages`` from ``docs``
    (stored as ``n_files`` files under ``sf_dir/documents.parquet``), in
    ``doc_id`` order.

    Columns: the pages schema plus ``expected`` (the oracle's
    ``extracted_text``) and ``exp_error`` (``no_text_layer`` for the
    image-only PDF family, else empty)."""
    # several files, so that Spark builds the pages in parallel
    (sf_dir / "documents.parquet").mkdir(parents=True)
    step = -(-docs.num_rows // n_files)
    for k in range(n_files):
        pq.write_table(
            docs.slice(k * step, step),
            sf_dir / "documents.parquet" / f"part-{k:05d}.parquet",
        )
    pages = build_pages(spark, str(sf_dir)).toArrow()
    con = duckdb.connect()
    con.register("documents", docs)
    con.register("pages", pages)
    t = con.execute(
        f"""
        with e as (
            select doc_id, {URL_SQL} as url,
                   ({expected_text_sql('duckdb')}) as expected,
                   case when doc_id % 240 = 180 then 'no_text_layer' else '' end
                       as exp_error
            from documents)
        select p.*, e.expected, e.exp_error
        from pages p join e using (url) order by e.doc_id"""
    ).arrow()
    con.close()
    if t.num_rows != docs.num_rows:
        raise RuntimeError(f"{t.num_rows} pages for {docs.num_rows} documents")
    return t


def replicate(base: pa.Table, reps: int, seed: int) -> pa.Table:
    """``reps`` copies of ``base`` with unique urls (``?r=<k>`` suffix,
    as the repo's bench replicates sf tables), in a seed-chosen order."""
    n = base.num_rows
    order = list(range(n * reps))
    random.Random(seed).shuffle(order)
    idx = pa.array([i % n for i in order], pa.int64())
    t = base.take(idx)
    urls = [
        f"{u}?r={1 + i // n}" for u, i in zip(t["url"].to_pylist(), order)
    ]
    return t.set_column(t.schema.get_field_index("url"), "url", pa.array(urls))


def write_pages(t: pa.Table, out_dir: Path, n_files: int) -> list[str]:
    """Store the table as ``n_files`` parquet files of equal row count;
    returns the file paths in stored order."""
    out_dir.mkdir(parents=True)
    t = t.select(list(PAGE_COLUMNS)).cast(
        pa.schema(
            [
                pa.field("url", pa.string(), nullable=False),
                pa.field("warc_ts", pa.timestamp("us", tz="UTC")),
                pa.field("html", pa.binary()),
                pa.field("text", pa.string()),
                pa.field("lang", pa.string()),
            ]
        )
    )
    step = -(-t.num_rows // n_files)
    paths = []
    for k in range(n_files):
        p = out_dir / f"part-{k:05d}.parquet"
        pq.write_table(t.slice(k * step, step), p)
        paths.append(str(p))
    return paths


def write_template(t: pa.Table, share: float, seed: int, root: Path) -> pa.Table:
    """A checkpoint (``io.checkpoint`` layout) in which a seed-chosen
    ``share`` of the table's urls is committed as one batch; its result
    rows carry the oracle's outcome.  Returns the committed urls."""
    rng = random.Random(seed ^ 0x5EED)
    keep = [rng.random() < share for _ in range(t.num_rows)]
    done = t.filter(pa.array(keep))
    batch = "template-0"
    urls = root / "committed" / batch
    (urls / "urls").mkdir(parents=True)
    pq.write_table(done.select(["url"]), urls / "urls" / "part-00000.parquet")
    (urls / "_COMMITTED").touch()
    res = root / "results" / batch
    res.mkdir(parents=True)
    pq.write_table(
        done.select(["url", "expected", "exp_error"]).rename_columns(
            ["url", "extracted_text", "error"]
        ),
        res / "part-00000.parquet",
    )
    return done.select(["url"])


def restore(template: Path, dest: Path) -> None:
    """Copy a template checkpoint by hard links (its files are never
    rewritten in place: commits add directories)."""
    for dirpath, _, files in os.walk(template):
        out = dest / Path(dirpath).relative_to(template)
        out.mkdir(parents=True, exist_ok=True)
        for f in files:
            os.link(Path(dirpath) / f, out / f)


def committed_result_files(root: Path) -> list[str]:
    """Result parquet files of every batch with a commit marker."""
    files = []
    for b in sorted((root / "committed").iterdir()):
        if (b / "_COMMITTED").exists():
            files += sorted(str(p) for p in (root / "results" / b.name).glob("*.parquet"))
    return files


def check(con: duckdb.DuckDBPyConnection, root: Path, scope: pa.Table) -> int:
    """Urls the checkpoint at ``root`` gets wrong.  ``scope`` holds the
    urls that must be committed (the job's input plus any template urls);
    each must appear in exactly one committed batch, no other url may be
    committed, and ``extracted_text`` / ``error`` must equal the oracle's
    (the ``expect`` relation of ``con``)."""
    con.register("scope", scope.select(["url"]))
    files = committed_result_files(root)
    if not files:
        return scope.num_rows
    con.execute(
        "create or replace temp table got as select url, extracted_text, error "
        "from read_parquet(?, union_by_name = true)",
        [files],
    )
    return con.execute(
        """
        select count(*) from (
            select s.url from scope s
            left join (select url, count(*) c from got group by url) g using (url)
            where g.c is distinct from 1
            union
            select url from got where url not in (select url from scope)
            union
            select g.url from got g left join expect e using (url)
            where g.extracted_text is distinct from e.expected
               or g.error is distinct from e.exp_error)"""
    ).fetchone()[0]
