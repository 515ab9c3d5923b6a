"""Seeded generator of the release-build inputs.

Pure stdlib: the same ``seed`` writes byte-identical files, and nothing
touches Spark. ``release_inputs`` writes raw release files in the FIXTURES.md
shapes: an F1 file-metadata TSV, F4 MAF files, F7 nested clinical JSONL and an
F6 quant matrix, plus a rebuild of the F1 TSV in which ``k`` known rows were
replaced. The returned ``truth`` dict is what the release-build check
compares against.
"""

from __future__ import annotations

import json
import os
import random
import uuid

# the reference's null vocabulary (inference.NULL_VOCAB), in the casings raw
# files carry it
NULLS = ("NA", "N/A", "None", "null", "--", "not reported", "Unknown", "")


def _uuid(rnd: random.Random) -> str:
    return str(uuid.UUID(int=rnd.getrandbits(128), version=4))


F1_COLUMNS = (
    "file_gdc_id", "case_gdc_id", "associated_entities__entity_gdc_id",
    "associated_entities__entity_type", "project_short_name", "program_name",
    "data_type", "data_category", "experimental_strategy", "file_type",
    "data_format", "platform", "file_size", "index_file_size", "file_name",
    "index_file_gdc_id", "access", "acl", "created_datetime",
    "updated_datetime", "md5sum", "file_state",
)
MAF_CORE = (
    "Hugo_Symbol", "Entrez_Gene_Id", "Chromosome", "Start_Position", "End_Position",
    "Variant_Classification", "Variant_Type", "Reference_Allele",
    "Tumor_Seq_Allele1", "Tumor_Seq_Allele2", "Tumor_Aliquot_UUID",
    "Matched_Norm_Aliquot_UUID", "t_depth", "t_ref_count", "t_alt_count",
    "n_depth", "callers", "case_id", "sample_barcode",
)
MAF_WIDTH = 140  # the reference's merge-by-aliquot groupBy width
ANNO = [f"v{i}" for i in range(50)]


def _f1_rows(rnd: random.Random, n: int, cases: list[str]) -> list[list[str]]:
    rows = []
    for i in range(n):
        r = rnd.random()
        if r < 0.70:
            case = rnd.choice(cases)
        elif r < 0.85:
            case = f"{rnd.choice(cases)};{rnd.choice(cases)}"
        elif r < 0.93:
            case = "multi"
        else:
            case = rnd.choice(NULLS)
        size = rnd.randrange(1_000, 10_000_000)
        rows.append([
            _uuid(rnd), case, ";".join(_uuid(rnd) for _ in range(rnd.randint(1, 5))),
            rnd.choice(("aliquot", "case", "slide")),
            f"TCGA-{rnd.choice(('OV', 'BRCA', 'LUAD', 'GBM'))}" if rnd.random() < 0.9 else "CCLE",
            "TCGA" if rnd.random() < 0.9 else rnd.choice(NULLS),
            rnd.choice(("Aligned Reads", "Gene Expression", "Slide Image")),
            rnd.choice(("Sequencing", "Transcriptome", "Biospecimen")),
            rnd.choice(("WGS", "RNA-Seq", "WXS", "Diagnostic Slide")),
            rnd.choice(("bam", "tsv", "svs")), rnd.choice(("BAM", "TSV", "SVS")),
            rnd.choice(("Illumina", "Affymetrix")) if rnd.random() < 0.8 else rnd.choice(NULLS),
            # trivial floats: an integral size sometimes written as "123.0"
            f"{size}.0" if rnd.random() < 0.2 else str(size),
            str(rnd.randrange(100, 100_000)) if rnd.random() < 0.5 else rnd.choice(NULLS),
            f"{_uuid(rnd)}.bam" if rnd.random() < 0.5 else f"TCGA-{i % 90:02d}-{i:04d}.svs",
            "",  # index_file_gdc_id: filled below with a self-reference
            rnd.choice(("open", "controlled")),
            ";".join(sorted({f"phs{rnd.randrange(20):06d}" for _ in range(rnd.randint(1, 3))})),
            f"2019-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}T10:00:00",
            f"2022-{rnd.randint(1, 12):02d}-{rnd.randint(1, 28):02d}T12:30:00",
            f"{rnd.getrandbits(128):032x}", rnd.choice(("submitted", "released")),
        ])
    for r in rows:
        if rnd.random() < 0.3:
            r[15] = rnd.choice(rows)[0]
    return rows


def _write_tsv(path: str, header, rows, comment: str | None = None) -> None:
    with open(path, "w", encoding="utf-8", newline="\n") as fh:
        if comment:
            fh.write(comment + "\n")
        fh.write("\t".join(header) + "\n")
        for r in rows:
            fh.write("\t".join(r) + "\n")


def release_inputs(out_dir: str, seed: int, n_files: int = 2_000, maf_files: int = 4,
                   maf_rows: int = 500, n_cases: int = 600, genes: int = 200,
                   aliquots: int = 24, k_perturbed: int = 25) -> dict:
    """Write the raw release inputs into ``out_dir`` and return the paths plus
    the generator's truth: row counts, child-table cardinalities and the
    perturbed keys of the rebuild."""
    rnd = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    cases = [_uuid(rnd) for _ in range(n_cases)]

    # F1: file metadata, plus a rebuild with k rows replaced by new files
    f1 = _f1_rows(rnd, n_files, cases)
    f1_path = os.path.join(out_dir, "file_metadata.tsv")
    _write_tsv(f1_path, F1_COLUMNS, f1)
    drop = sorted(rnd.sample(range(n_files), k_perturbed))
    rebuilt = [list(r) for r in f1]
    for i in drop:
        rebuilt[i][0] = _uuid(rnd)
    f1b_path = os.path.join(out_dir, "file_metadata_rebuild.tsv")
    _write_tsv(f1b_path, F1_COLUMNS, rebuilt)

    # F4: MAF files; some mutations repeat under a second sample barcode
    # (pooled samples), which the merge groupBy folds back into one row
    maf_cols = list(MAF_CORE) + [f"anno_{i:03d}" for i in range(MAF_WIDTH - len(MAF_CORE))]
    n_anno = MAF_WIDTH - len(MAF_CORE)
    maf_dir = os.path.join(out_dir, "maf")
    os.makedirs(maf_dir, exist_ok=True)
    callers = ("muse", "mutect2", "pindel", "varscan2")
    mutations = 0
    for f in range(maf_files):
        rows: list[list[str]] = []
        while len(rows) < maf_rows:
            start = rnd.randrange(1, 200_000_000)
            base = [
                f"GENE{rnd.randrange(500)}", str(rnd.randrange(1, 30000)), f"chr{rnd.randint(1, 22)}",
                str(start), str(start + rnd.randrange(3)),
                rnd.choice(("Missense_Mutation", "Silent", "Nonsense_Mutation")),
                rnd.choice(("SNP", "DEL", "INS")), rnd.choice("ACGT"), rnd.choice("ACGT"),
                rnd.choice("ACGT"), rnd.choice(cases), _uuid(rnd),
                str(rnd.randrange(10, 500)), str(rnd.randrange(5, 300)),
                str(rnd.randrange(1, 200)), str(rnd.randrange(10, 500)),
                ";".join(sorted(set(rnd.choices(callers, k=rnd.randint(1, 3))))) + ("*" if rnd.random() < 0.1 else ""),
                rnd.choice(cases),
            ]
            anno = [ANNO[rnd.randrange(50)] for _ in range(n_anno)]
            copies = min(2 if rnd.random() < 0.15 else 1, maf_rows - len(rows))
            mutations += 1
            for _ in range(copies):
                rows.append(base + [f"TCGA-{rnd.randrange(99):02d}-S{rnd.randrange(9999):04d}"] + anno)
        _write_tsv(os.path.join(maf_dir, f"maf_{f:02d}.maf"), maf_cols, rows, comment="#version 2.4")

    # F7: nested clinical cases
    jsonl_path = os.path.join(out_dir, "clinical.jsonl")
    n_diag = n_treat = n_fu = 0
    with open(jsonl_path, "w", encoding="utf-8") as fh:
        for c in cases:
            diags = []
            for _ in range(rnd.randint(0, 3)):
                treats = [{"treatment_id": _uuid(rnd), "treatment_type": rnd.choice(("Chemo", "Radiation"))}
                          for _ in range(rnd.randint(0, 2))]
                n_treat += len(treats)
                diags.append({"diagnosis_id": _uuid(rnd), "primary_diagnosis": rnd.choice(("C50.9", "C56.9")),
                              "age_at_diagnosis": rnd.randrange(8000, 30000), "treatments": treats})
            fus = [{"follow_up_id": _uuid(rnd), "days_to_follow_up": rnd.randrange(3000),
                    "molecular_tests": [{"molecular_test_id": _uuid(rnd), "gene_symbol": f"GENE{rnd.randrange(50)}"}]}
                   for _ in range(rnd.randint(0, 2))]
            n_diag += len(diags)
            n_fu += len(fus)
            rec = {
                "case_id": c, "submitter_id": f"TCGA-{rnd.randrange(99):02d}-{rnd.randrange(9999):04d}",
                "project": [{"project_id": "TCGA-OV", "name": "Ovarian"}],
                "demographic": {"demographic_id": _uuid(rnd), "gender": rnd.choice(("female", "male", "not reported")),
                                "year_of_birth": rnd.randrange(1930, 2000)},
                "diagnoses": diags, "follow_ups": fus,
                "sample_ids": f"{_uuid(rnd)}, {_uuid(rnd)}",
                "submitter_sample_ids": "S1, S2",
            }
            fh.write(json.dumps(rec) + "\n")

    # F6: quant matrix, genes x aliquot "run:submitter" headers
    quant_path = os.path.join(out_dir, "quant_matrix.tsv")
    header = ["gene_symbol"] + [f"run{i:03d}:SUB{i:03d}" for i in range(aliquots)]
    _write_tsv(quant_path, header, [
        [f"GENE{g}"] + [f"{rnd.gauss(0, 1.5):.4f}" for _ in range(aliquots)] for g in range(genes)
    ])

    return {
        "f1": f1_path, "f1_rebuild": f1b_path, "maf_dir": maf_dir,
        "jsonl": jsonl_path, "quant": quant_path,
        "truth": {
            "f1_rows": n_files, "maf_rows": maf_files * maf_rows, "mutations": mutations,
            "cases": n_cases, "diagnoses": n_diag, "treatments": n_treat, "follow_ups": n_fu,
            "quant_long_rows": genes * aliquots, "perturbed": k_perturbed,
        },
    }


def tree_bytes(path: str) -> int:
    """Total size of the regular files under ``path``."""
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total
