"""Seeded compendium generator for the manager_cycle workload.

It writes, under an output directory:
  samples.xml          BioSample "Full XML" export (the `xml`/`tags` input)
  efetch.tsv           srs<TAB>EXPERIMENT_PACKAGE xml, served by the fake
                       eUtils client
  projects/<p>/...     each project's pipeline outputs (summary.tsv, ASVs.fa,
                       ASVs_counts.tsv, ASVs_taxonomy.tsv), copied into the
                       workspace when the fake launcher "finishes" the job
  truth.json           the ground truth the output checks compare against

Nothing here calls the program: the truth is what the generator put in.
"""
import json
import os
import random

# E. coli 16S rRNA gene, GenBank J01859 (public sequence).
J01859 = (
    "aaattgaagagtttgatcatggctcagattgaacgctggcggcaggcctaacacatgcaagtcgaacggtaacaggaagaagcttgctctttgctgacgagtggcggacgggtgagtaatgtctgggaaactgcctgatggagggggataactactggaaacggtagctaataccgcataacgtcgcaagaccaaagagggggaccttcgggcctcttgccatcggatgtgcccagatgggattagctagtaggtggggtaacggctcacctaggcgacgatccctagctggtctgagaggatgaccagccacactggaactgagacacggtccagactcctacgggaggcagcagtggggaatattgcacaatgggcgcaagcctgatgcagccatgccgcgtgtatgaagaaggccttcgggttgtaaagtactttcagcggggaggaagggagtaaagttaatacctttgctcattgacgttacccgcagaagaagcaccggctaactccgtgccagcagccgcggtaatacggagggtgcaagcgttaatcggaattactgggcgtaaagcgcacgcaggcggtttgttaagtcagatgtgaaatccccgggctcaacctgggaactgcatctgatactggcaagcttgagtctcgtagaggggggtagaattccaggtgtagcggtgaaatgcgtagagatctggaggaataccggtggcgaaggcggccccctggacgaagactgacgctcaggtgcgaaagcgtggggagcaaacaggattagataccctggtagtccacgccgtaaacgatgtcgacttggaggttgtgcccttgaggcgtggcttccggagctaacgcgttaagtcgaccgcctggggagtacggccgcaaggttaaaactcaaatgaattgacgggggcccgcacaagcggtggagcatgtggtttaattcgatgcaacgcgaagaaccttacctggtcttgacatccacggaagttttcagagatgagaatgtgccttcgggaaccgtgagacaggtgctgcatggctgtcgtcagctcgtgttgtgaaatgttgggttaagtcccgcaacgagcgcaacccttatcctttgttgccagcggtccggccgggaactcaaaggagactgccagtgataaactggaggaaggtggggatgacgtcaagtcatcatggcccttacgaccagggctacacacgtgctacaatggcgcatacaaagagaagcgacctcgcgagagcaagcggacctcataaagtgcgtcgtagtccggattggagtctgcaactcgactccatgaagtcggaatcgctagtaatcgtggatcagaatgccacggtgaatacgttcccgggccttgtacacaccgcccgtcacaccatgggagtgggttgcaaaagaagtaggtagcttaaccttcgggagggcgcttaccactttgtgattcatgactggggtgaagtcgtaacaaggtaaccgtaggggaacctgcggttggatcacctcctta"
)

# Hypervariable-region windows on J01859 coordinates (PMC2562909).
WINDOWS = [("v1", 69, 99), ("v2", 137, 242), ("v3", 433, 497),
           ("v4", 576, 682), ("v5", 822, 879), ("v6", 986, 1043),
           ("v7", 1117, 1173), ("v8", 1243, 1294), ("v9", 1435, 1465)]

# Amplicons as (label, start, end) on J01859: each start lies between two
# windows well before the first one it names and each end lies between two
# windows well past the last one, so the label does not hinge on a few
# bases of alignment slack. The label is the standard primer-pair name.
AMPLICONS = [("v4", 515, 806), ("v3-v4", 341, 806), ("v1-v2", 8, 338),
             ("v4-v5", 515, 926), ("v6-v8", 930, 1390)]

# Compendium shape: (kind, QC outcome, samples, ASVs, nonzero share of the
# count matrix, amplicon). Sizes and amplicons are fixed so that every seed
# asks for the same amount of work; the seed draws the content (accessions,
# counts, tags, sequence jitter and mutations, project order). One project
# per QC outcome: the large one is the save, so its results load and
# alignment run.
SHAPE = [
    ("small", "discard", 55, 35, 0.30, "v1-v2"),
    ("small", "re_run", 55, 35, 0.30, "v6-v8"),
    ("large", "save", 400, 122, 0.08, "v4"),
]
BELOW_BAND_SAMPLES = 30   # one project under the 50-sample admission floor

RANKS = ["Kingdom", "Phylum", "Class", "Order", "Family", "Genus"]
TAXA = {
    "Kingdom": ["Bacteria", "Archaea"],
    "Phylum": ["Bacteroidota", "Firmicutes", "Proteobacteria", "Actinobacteriota"],
    "Class": ["Bacteroidia", "Clostridia", "Gammaproteobacteria", "Bacilli"],
    "Order": ["Bacteroidales", "Oscillospirales", "Enterobacterales", "Lactobacillales"],
    "Family": ["Bacteroidaceae", "Ruminococcaceae", "Enterobacteriaceae", "NA"],
    "Genus": ["Bacteroides", "Faecalibacterium", "Escherichia", "NA"],
}


def find_region_forward(loc):
    for v, lo, hi in WINDOWS:
        if loc < lo:
            return v
        if lo < loc < hi and (hi - loc) / (hi - lo) >= 0.5:
            return v
    return None


def find_region_reverse(loc):
    for v, lo, hi in reversed(WINDOWS):
        if loc > hi:
            return v
        if lo < loc < hi and (loc - lo) / (hi - lo) >= 0.5:
            return v
    return None


def amplicon_label(start, end):
    s, e = find_region_forward(start), find_region_reverse(end)
    return s if s == e else f"{s}-{e}"


def mutate(rng, seq, rate):
    out = list(seq)
    for i in range(len(out)):
        if rng.random() < rate:
            out[i] = rng.choice([b for b in "acgt" if b != out[i]])
    return "".join(out)


def xml_escape(s):
    return (s.replace("&", "&amp;").replace("<", "&lt;")
            .replace(">", "&gt;").replace('"', "&quot;"))


def summary_rows(rng, srrs, qc):
    """Paired summary.tsv rows. Good: retained 0.84, chimera 0.02, merged
    0.94. A third of the samples of a discard project lose retention
    (< 0.59), a third of a re-run project fail merging (< 0.65)."""
    rows = []
    for i, srr in enumerate(srrs):
        dinput = 50000 + rng.randrange(0, 5000)
        filt, revse, forwd = dinput - 2000, dinput - 4000, dinput - 3000
        merged = int(forwd * 0.94)
        length = merged - 1000
        nonchim = int(length * 0.98)
        bad = i % 3 == 0
        if qc == "discard" and bad:
            nonchim = int(dinput * 0.4)
        if qc == "re_run" and bad:
            merged = int(forwd * 0.43)
            length = min(length, merged)
            nonchim = min(nonchim, int(length * 0.98))
        rows.append(f"{srr}_1.fastq\t{dinput}\t{filt}\t{revse}\t{forwd}\t"
                    f"{merged}\t{length}\t{nonchim}")
    return rows


def generate(seed, out):
    rng = random.Random(seed)
    os.makedirs(os.path.join(out, "projects"), exist_ok=True)
    projects, samples = [], []   # samples: dicts in XML order
    pid = 0
    specs = SHAPE + [("below_band", "untracked", BELOW_BAND_SAMPLES, 0, 0.0,
                      None)]
    specs = rng.sample(specs, len(specs))
    sample_no = 0
    for kind, qc, n_samples, n_asvs, density, amplicon in specs:
        pid += 1
        project = f"PRJNA{seed % 1000:03d}{pid:04d}"
        proj = {"project": project, "kind": kind, "qc": qc, "srrs": [],
                "n_asvs": n_asvs, "density": density, "amplicon": amplicon}
        for _ in range(n_samples):
            sample_no += 1
            srs = f"SRS{seed % 1000:03d}{sample_no:06d}"
            srr = f"SRR{seed % 1000:03d}{sample_no:06d}"
            samples.append({"srs": srs, "srr": srr, "project": project,
                            "processable": True})
            proj["srrs"].append(srr)
        # a few extra samples per project that never reach the pipeline:
        # whole-genome libraries (not processable) and samples whose
        # efetch package carries no run (srr stays unresolved)
        for extra in ("wgs", "norun"):
            sample_no += 1
            samples.append({
                "srs": f"SRS{seed % 1000:03d}{sample_no:06d}",
                "srr": (f"SRR{seed % 1000:03d}{sample_no:06d}"
                        if extra == "wgs" else None),
                "project": project if extra == "wgs" else None,
                "processable": False})
        projects.append(proj)

    # BioSample XML with the tag edge cases the parser must honour
    tags_truth = {}
    xml = ['<?xml version="1.0" encoding="UTF-8"?>', "<BioSampleSet>"]
    for i, s in enumerate(samples):
        attrs = [("host_age", "host_age", str(rng.randint(1, 90))),
                 ("sample type", None, rng.choice(["Stool", "Soil", "Water"])),
                 ("geo loc name", "geo_loc_name",
                  rng.choice(["USA: Michigan", "Kenya", "Peru: Lima"])),
                 ("material", None, "Faeces & Mucus"),
                 ("empty_one", None, "")]
        if i % 4 == 0:   # a repeated harmonized name: the last one wins
            attrs.append(("host age", "host_age", str(rng.randint(1, 90))))
        t = {}
        for attr_name, harmonized, value in attrs:
            if value:
                t[harmonized or attr_name] = value.lower()
        tags_truth[s["srs"]] = t
        xml.append(f'  <BioSample access="public" id="{i + 1}">')
        xml.append("    <Ids>")
        xml.append(f'      <Id db="BioSample">SAMN{i + 1:08d}</Id>')
        xml.append(f'      <Id db="SRA">{s["srs"]}</Id>')
        xml.append("    </Ids>")
        xml.append("    <Attributes>")
        for attr_name, harmonized, value in attrs:
            h = f' harmonized_name="{harmonized}"' if harmonized else ""
            xml.append(f'      <Attribute attribute_name="{attr_name}"{h}>'
                       f"{xml_escape(value)}</Attribute>")
        xml.append("    </Attributes>")
        xml.append("  </BioSample>")
    xml.append("</BioSampleSet>")
    with open(os.path.join(out, "samples.xml"), "w") as f:
        f.write("\n".join(xml) + "\n")

    # efetch packages: one line per sample
    with open(os.path.join(out, "efetch.tsv"), "w") as f:
        for s in samples:
            source = "METAGENOMIC" if s["processable"] else "GENOMIC"
            strategy = "AMPLICON" if s["processable"] else "WGS"
            run = (f'<RUN accession="{s["srr"]}" published="2024-01-15 08:00:00" '
                   f'total_bases="{rng.randint(10**6, 10**8)}"/>'
                   if s["srr"] else "")
            project = s["project"] or "PRJNA0"
            f.write(s["srs"] + "\t" + (
                "<EXPERIMENT_PACKAGE><EXPERIMENT><DESIGN><LIBRARY_DESCRIPTOR>"
                f"<LIBRARY_STRATEGY>{strategy}</LIBRARY_STRATEGY>"
                f"<LIBRARY_SOURCE>{source}</LIBRARY_SOURCE>"
                "</LIBRARY_DESCRIPTOR></DESIGN><PLATFORM><ILLUMINA>"
                "<INSTRUMENT_MODEL>Illumina MiSeq</INSTRUMENT_MODEL>"
                "</ILLUMINA></PLATFORM></EXPERIMENT>"
                f'<SAMPLE accession="{s["srs"]}"><IDENTIFIERS>'
                f'<EXTERNAL_ID namespace="BioProject">{project}</EXTERNAL_ID>'
                f"</IDENTIFIERS></SAMPLE><RUN_SET>{run}</RUN_SET>"
                "</EXPERIMENT_PACKAGE>") + "\n")

    # pipeline outputs and results truth
    align_cells = 0
    for p in projects:
        if p["qc"] == "untracked":
            continue
        d = os.path.join(out, "projects", p["project"])
        os.makedirs(d, exist_ok=True)
        header = "\tdinput\tfilter\trevse\tforwd\tmerged\tlength\tnonchim"
        with open(os.path.join(d, "summary.tsv"), "w") as f:
            f.write("\n".join([header] + summary_rows(rng, p["srrs"], p["qc"]))
                    + "\n")
        label, a0, a1 = next(a for a in AMPLICONS if a[0] == p["amplicon"])
        assert amplicon_label(a0 + 4, a1 - 4) == label, label
        p["region"] = label if p["qc"] == "save" else None
        asvs = []
        for j in range(p["n_asvs"]):
            start, end = a0 + rng.randint(0, 4), a1 - rng.randint(0, 4)
            asvs.append((f"ASV_{j + 1}",
                         mutate(rng, J01859[start:end], 0.01).upper()))
        with open(os.path.join(d, "ASVs.fa"), "w") as f:
            f.write("".join(f">{a}\n{s}\n" for a, s in asvs))
        with open(os.path.join(d, "ASVs_taxonomy.tsv"), "w") as f:
            f.write("\t" + "\t".join(RANKS) + "\n")
            for a, _ in asvs:
                f.write(a + "\t" + "\t".join(rng.choice(TAXA[r]) for r in RANKS)
                        + "\n")
        nonzero, total = 0, 0
        n_samples = len(p["srrs"])
        with_counts = [False] * n_samples
        with open(os.path.join(d, "ASVs_counts.tsv"), "w") as f:
            f.write("\t" + "\t".join(p["srrs"]) + "\n")
            for a, _ in asvs:
                row = [0] * n_samples
                for k in range(n_samples):
                    if rng.random() < p["density"]:
                        row[k] = rng.randint(1, 500)
                        with_counts[k] = True
                nonzero += sum(1 for c in row if c)
                total += sum(row)
                f.write(a + "\t" + "\t".join(map(str, row)) + "\n")
        p.update(count_rows=nonzero, count_sum=total,
                 samples_with_counts=sum(with_counts))
        if p["qc"] == "save":
            align_cells += sum(len(s) for _, s in asvs) * len(J01859)

    final = {"save": "done", "discard": "failed", "re_run": "to_re_run"}
    truth = {
        "seed": seed,
        "samples": {s["srs"]: {"srr": s["srr"], "project": s["project"]}
                    for s in samples},
        "tags": tags_truth,
        "projects": {p["project"]: {
            "kind": p["kind"], "qc": p["qc"],
            "status": final.get(p["qc"]),
            "n_samples": len(p["srrs"]),
            "n_asvs": p["n_asvs"],
            "srrs": p["srrs"],
            "count_rows": p.get("count_rows", 0),
            "count_sum": p.get("count_sum", 0),
            "region": p.get("region")} for p in projects},
        "align_cells": align_cells,
    }
    saved = [p for p in projects if p["qc"] == "save"]
    truth["compendium"] = {
        "n_projects": len({s["project"] for s in samples if s["project"]}),
        "n_samples": len(samples),
        "n_samples_with_results": sum(p["samples_with_counts"] for p in saved),
    }
    with open(os.path.join(out, "truth.json"), "w") as f:
        json.dump(truth, f)
    return truth
