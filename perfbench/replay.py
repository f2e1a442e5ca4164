"""DuckDB replay of the loader's VARIANT_TRANSCRIPT output.

Re-derives, from the generated input files alone, what a correct loader
writes: the converter's skip rules and indel adjustment, natural-key
dedup with dense ids (1..n on a first wave, max+1.. for a re-wave's new
keys), transcript hits, CDS assembly and codon math. The engine's output
and the replay are hashed the same way (sorted rows, md5).
"""
import glob
import os

import duckdb

STRAINS = 9
# Standard codon table, TCAG order; stop codons are "*".
_B = "TCAG"
_AA = "FFLLSSSSYY**CC*WLLLLPPPPHHQQRRRRIIIMTTTTNNKKSSRRVVVVAAAADDEEGGGG"
CODONS = {a + b + c: _AA[16 * i + 4 * j + k]
          for i, a in enumerate(_B) for j, b in enumerate(_B) for k, c in enumerate(_B)}

VT_COLS = ["rgd_id", "transcript_id", "rel_pos", "aa_pos", "triplet_error",
           "ref_aa", "var_aa", "syn_status", "frameshift"]


def _genome(path):
    seqs, name, buf = {}, None, []
    with open(path) as fh:
        for line in fh:
            line = line.rstrip("\n")
            if line.startswith(">"):
                if name is not None:
                    seqs[name] = "".join(buf)
                name, buf = line[1:].split()[0], []
            elif line:
                buf.append(line)
    if name is not None:
        seqs[name] = "".join(buf)
    return seqs


def _converted(vcf):
    """Accepted (chromosome, position, ref_nuc, var_nuc) rows of one VCF."""
    cols = "{" + ",".join(f"'c{i}':'VARCHAR'" for i in range(1, 10 + STRAINS)) + "}"
    per_strain = " UNION ALL ".join(
        f"SELECT c1 AS chrom, CAST(c2 AS BIGINT) AS pos, c4 AS ref, c5 AS alt, "
        f"c{10 + i} AS gt FROM raw" for i in range(STRAINS))
    return f"""
      WITH raw AS (
        SELECT * FROM read_csv('{vcf}', delim='\t', header=false, auto_detect=false,
          quote='', null_padding=true, columns={cols}) WHERE c1 NOT LIKE '#%'),
      long AS ({per_strain}),
      parsed AS (
        SELECT chrom, pos, ref, alt, split_part(gt, ':', 1) AS call,
          string_split(split_part(gt, ':', 2), ',') AS ad,
          TRY_CAST(split_part(gt, ':', 3) AS INTEGER) AS dp
        FROM long),
      al AS (
        SELECT p.chrom, p.pos, p.ref, string_split(p.alt, ',')[u.a] AS va,
          CAST(p.ad[u.a + 1] AS INTEGER) AS adA, p.dp
        FROM parsed p, LATERAL (
          SELECT DISTINCT TRY_CAST(x AS INTEGER) AS a
          FROM unnest(string_split(p.call, '/')) t(x)
          WHERE TRY_CAST(x AS INTEGER) > 0) u),
      kept AS (
        SELECT *, length(ref) = 1 AND length(va) = 1 AS snv,
          length(ref) = 1 AND length(va) > 1 AS ins,
          length(va) = 1 AND length(ref) > 1 AS del,
          substr(ref, 1, 1) = substr(va, 1, 1) AS shared
        FROM al WHERE CAST(adA AS DOUBLE) * 100.0 / CAST(dp AS DOUBLE) > 15)
      SELECT chrom AS chromosome,
        CASE WHEN snv THEN pos WHEN (ins OR del) AND shared THEN pos + 1 ELSE pos END AS position,
        CASE WHEN snv THEN ref WHEN ins AND shared THEN '' WHEN del AND shared
             THEN substr(ref, 2) ELSE ref END AS ref_nuc,
        CASE WHEN snv THEN va WHEN ins AND shared THEN substr(va, 2) WHEN del AND shared
             THEN '' ELSE va END AS var_nuc
      FROM kept"""


def expected(data, rewave):
    """The replayed VARIANT_TRANSCRIPT hash and nonsynonymous row count."""
    con = duckdb.connect()
    inp = os.path.join(data, "in")
    g = _genome(os.path.join(inp, "genome.fa"))
    con.execute("CREATE TABLE genome(chr VARCHAR, seq VARCHAR)")
    con.executemany("INSERT INTO genome VALUES (?, ?)", list(g.items()))
    con.execute("CREATE TABLE codon(c VARCHAR, aa VARCHAR)")
    con.executemany("INSERT INTO codon VALUES (?, ?)", list(CODONS.items()))
    keys = "chromosome, position, ref_nuc, var_nuc"
    con.execute(f"CREATE TABLE k1 AS SELECT DISTINCT {keys} FROM ({_converted(os.path.join(inp, 'wave1.vcf'))})")
    con.execute(f"CREATE TABLE v1 AS SELECT *, row_number() OVER (ORDER BY {keys}) AS rgd_id FROM k1")
    if rewave:
        con.execute(f"CREATE TABLE k2 AS SELECT DISTINCT {keys} FROM ({_converted(os.path.join(inp, 'wave2.vcf'))})")
        con.execute(f"""CREATE TABLE nv AS
          SELECT *, (SELECT count(*) FROM k1) + row_number() OVER (ORDER BY {keys}) AS rgd_id
          FROM (SELECT * FROM k2 EXCEPT SELECT * FROM k1)""")
    else:
        con.execute("CREATE TABLE nv AS SELECT * FROM v1")
    revcomp = lambda c: f"reverse(translate(upper({c}), 'ACGT', 'TGCA'))"
    con.execute(f"""CREATE TABLE vt AS
      WITH ex AS (
        SELECT e.*, t.strand, e.e_stop - e.e_start + 1 AS e_len,
          substr(g.seq, CAST(e.e_start AS INTEGER), CAST(e.e_stop - e.e_start + 1 AS INTEGER)) AS dna
        FROM read_csv('{os.path.join(inp, 'exons.tsv')}', delim='\t', header=false, auto_detect=false,
          columns={{'tid':'INTEGER','exon_idx':'INTEGER','e_chr':'VARCHAR','e_start':'BIGINT','e_stop':'BIGINT'}}) e
        JOIN read_csv('{os.path.join(inp, 'transcripts.tsv')}', delim='\t', header=false, auto_detect=false,
          columns={{'tid':'INTEGER','t_chr':'VARCHAR','strand':'VARCHAR','t_start':'BIGINT','t_stop':'BIGINT'}}) t
          USING (tid)
        JOIN genome g ON g.chr = e.e_chr),
      exd AS (
        SELECT *, coalesce(sum(e_len) OVER (PARTITION BY tid ORDER BY exon_idx
          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prior_len FROM ex),
      cds AS (SELECT tid, string_agg(dna, '' ORDER BY exon_idx) AS cds FROM exd GROUP BY tid),
      hits AS (
        SELECT v.rgd_id, e.tid, e.strand, v.ref_nuc, v.var_nuc,
          CASE WHEN v.ref_nuc = '' THEN 'ins' WHEN v.var_nuc = '' THEN 'del' ELSE 'snv' END AS vtype,
          e.prior_len + (v.position - e.e_start) + 1 AS rel_pos
        FROM nv v JOIN exd e ON e.e_chr = v.chromosome
          AND v.position BETWEEN e.e_start AND e.e_stop),
      a AS (
        SELECT h.*, c.cds, length(c.cds) AS cds_len,
          CASE WHEN h.strand = '-' THEN length(c.cds) - h.rel_pos + 1 ELSE h.rel_pos END AS rel2
        FROM hits h JOIN cds c USING (tid)),
      b AS (
        SELECT *, CASE WHEN rel2 > 3 * (cds_len // 3) THEN 'T' ELSE 'F' END AS triplet_error,
          CASE WHEN rel2 > 3 * (cds_len // 3) THEN 0 ELSE (rel2 + 2) // 3 END AS aa_pos
        FROM a),
      c AS (
        SELECT *,
          CASE WHEN vtype <> 'snv' OR triplet_error = 'T' THEN NULL
               WHEN strand = '-' THEN {revcomp("substr(cds, CAST(cds_len - 3 * aa_pos + 1 AS INTEGER), 3)")}
               ELSE substr(cds, CAST(3 * aa_pos - 2 AS INTEGER), 3) END AS ref_codon,
          CASE WHEN strand = '-' THEN {revcomp("var_nuc")} ELSE var_nuc END AS vb,
          CAST(rel2 - aa_pos * 3 + 3 AS INTEGER) AS off
        FROM b),
      d AS (
        SELECT *, substr(ref_codon, 1, off - 1) || vb || substr(ref_codon, off + length(vb)) AS var_codon
        FROM c),
      e AS (
        SELECT d.*,
          CASE WHEN vtype <> 'snv' THEN NULL WHEN triplet_error = 'T' THEN 'skipped'
               ELSE coalesce(r.aa, 'X') END AS ref_aa,
          CASE WHEN vtype <> 'snv' THEN NULL WHEN triplet_error = 'T' THEN 'skipped'
               ELSE coalesce(w.aa, 'X') END AS var_aa
        FROM d LEFT JOIN codon r ON r.c = upper(d.ref_codon)
          LEFT JOIN codon w ON w.c = upper(d.var_codon))
      SELECT rgd_id, tid AS transcript_id, rel_pos, aa_pos, triplet_error, ref_aa, var_aa,
        CASE WHEN vtype <> 'snv' THEN NULL WHEN triplet_error = 'T' THEN 'skipped'
             WHEN ref_aa = 'X' OR var_aa = 'X' THEN 'unassignable'
             WHEN ref_aa = var_aa THEN 'synonymous' ELSE 'nonsynonymous' END AS syn_status,
        CASE WHEN abs(length(ref_nuc) - length(var_nuc)) % 3 <> 0 THEN 'T' ELSE 'F' END AS frameshift
      FROM e""")
    nonsyn = con.execute("SELECT count(*) FROM vt WHERE syn_status = 'nonsynonymous'").fetchone()[0]
    return {"vt_hash": _hash(con, "vt"), "nonsynonymous": nonsyn}


def _hash(con, rel):
    row = " || '|' || ".join(f"coalesce(CAST({c} AS VARCHAR), '~')" for c in VT_COLS)
    return tuple(con.execute(
        f"SELECT count(*), md5(coalesce(string_agg(r, chr(10) ORDER BY r), '')) "
        f"FROM (SELECT {row} AS r FROM {rel})").fetchone())


def table_hash(parquet_dir):
    con = duckdb.connect()
    con.execute(f"CREATE VIEW t AS SELECT * FROM read_parquet('{parquet_dir}/*.parquet')")
    return _hash(con, "t")


def fasta_records(text_dir):
    n = 0
    for f in glob.glob(os.path.join(text_dir, "part-*")):
        with open(f) as fh:
            n += sum(1 for line in fh if line.startswith(">"))
    return n
