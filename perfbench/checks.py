"""Output checks that need DuckDB: the oracle side of the benchmark.

corpus_release: every unit's release manifest (shard, n_docs, n_chars,
checksum) must equal the manifest the DuckDB oracle SQL of
`llm_corpus_prep_publish` states for the generated corpus. The reference
is computed once per generated input.
"""

MANIFEST_COLS = ("shard", "n_docs", "n_chars", "checksum")


def manifest_key(rows):
    """Canonical, order-free form of a manifest: sorted 4-tuples."""
    return sorted((int(r[0]), int(r[1]), int(r[2]), str(r[3])) for r in rows)


def oracle_manifest(tables_dir, oracle_sql):
    """The release manifest the DuckDB oracle SQL states for a corpus."""
    import duckdb
    con = duckdb.connect()
    try:
        # it runs beside the benchmark JVM's warm-up: leave it CPU
        con.execute("SET threads TO 2")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    f"'{tables_dir}/documents.parquet'")
        rel = con.sql(oracle_sql)
        idx = [rel.columns.index(c) for c in MANIFEST_COLS]
        return manifest_key([tuple(r[i] for i in idx) for r in rel.fetchall()])
    finally:
        con.close()


def check_manifests(manifests, reference):
    """Failure messages, one per unit whose manifest differs."""
    bad = []
    for k, m in enumerate(manifests):
        if manifest_key(m) != reference:
            bad.append(f"corpus_release unit manifest {k} differs from the "
                       "DuckDB oracle's")
    return bad
