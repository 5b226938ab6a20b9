"""Seeded inputs and planted-truth manifests for the perfbench workloads.

    python3 perfbench/gen.py --workload drugbank_text --seed 1 --out DIR

The same (workload, seed) always writes byte-identical files. The program
only ever reads `drugs.xml`, `kg/{nodes,clusters,edges}` (parquet) and
`requests.jsonl`; everything under `expected/` and `manifest.json` is the
planted truth the benchmark's verifier compares the program's outputs to.

Text is built so that dictionary hits are known exactly. Every KG name that
text can hit is a chain of "q-blocks" (`q` + five letters a-p). Filler words
contain no `q` and no digit. Every other KG name contains a digit. So an
n-gram can only hit when all of its tokens are q-blocks or simplify to
nothing, and `ner_hits` below enumerates exactly those n-grams. It follows
the program's documented NER contract (sentence split on '.', 15..1000-char
gate, <100-char tokens, punctuation strip, 1..6-grams of >= 3 chars,
longest mention wins).
"""
import argparse
import json
import os
import random
import re
import string

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# --- constants mirrored from the paper's pipeline contract -----------------

MECH_CATEGORIES = {
    "biolink:BiologicalProcess", "biolink:BiologicalProcessOrActivity",
    "biolink:Cell", "biolink:CellularComponent", "biolink:Drug",
    "biolink:Disease", "biolink:DiseaseOrPhenotypicFeature",
    "biolink:Gene", "biolink:GeneProduct", "biolink:GeneFamily",
    "biolink:GeneGroupingMixin", "biolink:GeneOrGeneProduct",
    "biolink:MolecularActivity", "biolink:NoncodingRNAProduct",
    "biolink:PathologicalProcess", "biolink:PhenotypicFeature",
    "biolink:Pathway", "biolink:Protein", "biolink:ProteinDomain",
    "biolink:ProteinFamily", "biolink:PhysiologicalProcess",
    "biolink:RNAProduct", "biolink:SmallMolecule", "biolink:Transcript"}
IND_CATEGORIES = {"biolink:Disease", "biolink:DiseaseOrPhenotypicFeature",
                  "biolink:PhenotypicFeature"}
TEXT_FIELDS = [("description", "description"), ("indication", "indication"),
               ("pharmacodynamics", "pharmacodynamics"),
               ("mechanism-of-action", "mechanism_of_action"),
               ("metabolism", "metabolism"),
               ("protein-binding", "protein_binding")]
# (name, prefix, pattern): the 15 bare-id detectors
DETECTORS = [
    ("DrugBank", "DRUGBANK", r"DB\d+"), ("CAS", "CAS", r"\d{2,7}-\d{2}-\d"),
    ("KEGG Compound", "KEGG.COMPOUND", r"C\d{5}"),
    ("KEGG Drug", "KEGG.DRUG", r"D\d{5}"),
    ("PubChem Compound", "PUBCHEM.COMPOUND", r"\d{4,9}"),
    ("PubChem Substance", "PUBCHEM.SUBSTANCE", r"\d{4,9}"),
    ("ChEBI", "CHEBI", r"\d+"), ("PharmGKB", "PHARMGKB", r"PA\d+"),
    ("HET", "", r"\w{3}"),
    ("UniProt", "UNIPROTKB", r"[OPQ][0-9][A-Z0-9]{3}[0-9]"),
    ("GenBank", "GENBANK", r"\w{2}\d{6}"), ("DPD", "", r"\d+"),
    ("NDC", "NDC", r"\d{4}-\d{4}-\d{2}"), ("SMPDB", "SMPDB", r"SMP\d+"),
    ("PR", "PR", r"P:\d+")]
DETECTOR_RES = [(p, re.compile(r, re.ASCII)) for _, p, r in DETECTORS]

PUNCT_OR_WS = re.compile("[" + re.escape(string.punctuation) + r" \t\n\x0b\f\r]")
WS_RUN = re.compile(r"[ \t\n\x0b\f\r]+")
BRACKETS = re.compile(r"\[.*?\]")
STRIP_PUNCT = str.maketrans("", "", ".,;:?!")

NODE_COLS = ["id", "id_simplified", "name", "name_simplified", "category",
             "cluster_id", "major_branch", "name_sri", "category_sri",
             "name_kg2pre", "category_kg2pre"]

# Workload sizes. Each pipeline run must fit several times into one
# benchmark run, so these are fractions of a DrugBank release (17.4k drugs).
SIZES = {
    "drugbank_text": dict(drugs=120, concepts=300),
    "drugbank_ids": dict(drugs=400, concepts=60),
    "synonymizer_lookup": dict(nodes=1_000_000, clusters=250_000,
                               names=200_000, requests=400),
}

FILLER = ("the of and in to is was for with by as on from at which that "
          "this be are an or it has have its not may been were other also "
          "after into more most such these when than only both some over "
          "patients dose doses treatment therapy effect effects clinical "
          "plasma levels acute chronic renal hepatic oral given mild severe "
          "increase decrease reduce reduced observed studies study trial "
          "response activity action binding tissue cells cell blood serum "
          "agent agents adverse events use used during long term high low "
          "concentration concentrations elimination half life absorption "
          "distribution metabolite metabolites excretion urine liver kidney "
          "heart brain lung skin muscle nerve pain fever infection growth "
          "receptor receptors enzyme enzymes inhibitor inhibition normal "
          "rapid slow mostly partly largely widely commonly rarely usually "
          "shown found reported described evaluated measured compared "
          "several various different similar major minor primary secondary "
          "adults children elderly women men subjects volunteers healthy").split()
assert not any(("q" in w) or any(c.isdigit() for c in w) for w in FILLER)


def simplify(s):
    """Lowercase with ASCII punctuation and whitespace removed."""
    return PUNCT_OR_WS.sub("", s).lower()


def capitalize_prefix(curie):
    prefix, sep, rest = curie.partition(":")
    return prefix.upper() + sep + rest


def qblock(i):
    """The i-th q-block: 'q' + five letters a-p (base 16)."""
    out = []
    for _ in range(5):
        out.append(chr(ord("a") + i % 16))
        i //= 16
    return "q" + "".join(reversed(out))


def biolink(cat):
    return "biolink:" + cat


# --- exact models of the program contract ----------------------------------

def ner_hits(text, dictionary, categories):
    """curie -> (mention, category) for one document, longest mention wins;
    also the number of curies that more than one mention form hit."""
    best, forms = {}, {}
    for sent in text.split("."):
        if not 15 <= len(sent) <= 1000 or ("q" not in sent and "Q" not in sent):
            continue
        sent = " ".join(t for t in sent.split(" ") if len(t) < 100)
        toks = WS_RUN.split(sent.translate(STRIP_PUNCT).strip(" "))
        simp = [simplify(t) for t in toks]
        for start in range(len(toks)):
            if simp[start] and not simp[start].startswith("q"):
                continue
            for end in range(start + 1, min(start + 6, len(toks)) + 1):
                if simp[end - 1] and not simp[end - 1].startswith("q"):
                    break
                gram_hits = dictionary.get("".join(simp[start:end]))
                gram = " ".join(toks[start:end])
                if not gram_hits or len(gram) < 3:
                    continue
                for curie, cat in gram_hits:
                    if cat in categories:
                        forms.setdefault(curie, set()).add(gram)
                        old = best.get(curie)
                        if old is None or (len(gram), gram) > (len(old[0]), old[0]):
                            best[curie] = (gram, cat)
    return best, sum(1 for f in forms.values() if len(f) > 1)


def align_id(bare, id_index):
    """Stage-2 id branch: (candidate curies, resolved cluster ids)."""
    if ":" in bare:
        return set(), set()
    candidates = {prefix + ":" + bare for prefix, rx in DETECTOR_RES
                  if rx.search(bare)}
    hits = {id_index[capitalize_prefix(c)] for c in candidates
            if capitalize_prefix(c) in id_index}
    return candidates, hits


# --- writers ---------------------------------------------------------------

def write_parquet(rows_or_table, path, schema=None):
    os.makedirs(path, exist_ok=True)
    table = rows_or_table if isinstance(rows_or_table, pa.Table) else \
        pa.Table.from_pylist(rows_or_table, schema=schema)
    pq.write_table(table, os.path.join(path, "part-00000.parquet"),
                   compression="snappy")


NODE_SCHEMA = pa.schema([(c, pa.string()) for c in NODE_COLS])
CLUSTER_SCHEMA = pa.schema([("cluster_id", pa.string()), ("name", pa.string()),
                            ("category", pa.string()),
                            ("member_ids", pa.list_(pa.string())),
                            ("intra_cluster_edge_ids", pa.list_(pa.string()))])
EDGE_COLS = ["id", "subject", "predicate", "object", "upstream_resource_id",
             "primary_knowledge_source"]
EDGE_SCHEMA = pa.schema([(c, pa.string()) for c in EDGE_COLS])


def write_json(obj, path):
    with open(path, "w") as f:
        json.dump(obj, f, sort_keys=True, indent=1)
        f.write("\n")


def write_jsonl(rows, path):
    with open(path, "w") as f:
        for r in rows:
            f.write(json.dumps(r, sort_keys=True, separators=(",", ":")))
            f.write("\n")


def xml_escape(s):
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


# --- pipeline workloads ----------------------------------------------------

CONCEPT_KINDS = [  # (category, cluster prefix); the last two match no pass
    ("Disease", "MONDO"), ("PhenotypicFeature", "HP"), ("Protein", "PR"),
    ("Gene", "NCBIGene"), ("BiologicalProcess", "GO"),
    ("SmallMolecule", "CHEBI"), ("DiseaseOrPhenotypicFeature", "UMLS"),
    ("Cell", "CL"), ("OrganismTaxon", "NCBITaxon"), ("Device", "NCIT")]
DISEASE_KINDS = (0, 1, 6)

# per-workload shape of a drug entry
SHAPES = {
    # a few hundred words over six fields, few bioentities
    "drugbank_text": dict(words=(150, 40, 70, 70, 45, 20), mention_p=0.35,
                          targets=(1, 2), enzymes=(0, 1), carriers=(0, 0),
                          transporters=(0, 1), polys=(0, 1), pathways=(0, 1),
                          odd_sentence_p=0.08),
    # one short sentence, dense structured fields
    "drugbank_ids": dict(words=(12, 0, 0, 0, 0, 0), mention_p=0.5,
                         targets=(1, 6), enzymes=(0, 4), carriers=(0, 2),
                         transporters=(0, 3), polys=(0, 3), pathways=(0, 3),
                         odd_sentence_p=0.0),
}


class Kg:
    def __init__(self):
        self.nodes, self.members, self.clusters = [], {}, {}

    def cluster(self, cid, name, category):
        self.clusters[cid] = (name, category)
        self.members[cid] = []

    def node(self, nid, name, category, cid, rng):
        sri = rng.random() < 0.8
        self.nodes.append({
            "id": nid, "id_simplified": capitalize_prefix(nid), "name": name,
            "name_simplified": simplify(name), "category": category,
            "cluster_id": cid, "major_branch": category,
            "name_sri": name if sri else None,
            "category_sri": category if sri else None,
            "name_kg2pre": name, "category_kg2pre": category})
        self.members[cid].append(nid)

    def write(self, out):
        write_parquet(self.nodes, os.path.join(out, "kg", "nodes"), NODE_SCHEMA)
        clusters, edges = [], []
        for cid in sorted(self.clusters):
            name, cat = self.clusters[cid]
            members = self.members[cid]
            eids = []
            for a, b in zip(members, members[1:]):
                eids.append("E%d" % len(edges))
                edges.append({"id": eids[-1], "subject": a,
                              "predicate": "biolink:same_as", "object": b,
                              "upstream_resource_id": "infores:perfbench",
                              "primary_knowledge_source": "infores:perfbench"})
            clusters.append({"cluster_id": cid, "name": name, "category": cat,
                             "member_ids": members,
                             "intra_cluster_edge_ids": eids})
        write_parquet(clusters, os.path.join(out, "kg", "clusters"), CLUSTER_SCHEMA)
        write_parquet(edges, os.path.join(out, "kg", "edges"), EDGE_SCHEMA)

    def indexes(self):
        """Dictionary (name_simplified -> [(curie, category)]), id index
        (id_simplified -> smallest cluster) and name index (name_simplified
        -> cluster with most nodes, ties to the smallest cluster id)."""
        dictionary, ids, counts = {}, {}, {}
        for n in self.nodes:
            cid = n["cluster_id"]
            entry = (cid, biolink(self.clusters[cid][1]))
            d = dictionary.setdefault(n["name_simplified"], [])
            if entry not in d:
                d.append(entry)
            k = n["id_simplified"]
            ids[k] = min(ids.get(k, cid), cid)
            c = counts.setdefault(n["name_simplified"], {})
            c[cid] = c.get(cid, 0) + 1
        names = {k: min(c, key=lambda cid: (-c[cid], cid))
                 for k, c in counts.items()}
        return dictionary, ids, names


def uniprot_acc(i):
    # [OPQ][0-9][A-Z0-9]{3}[0-9]
    alnum = string.ascii_uppercase + string.digits
    return "%s%d%s%s%s%d" % ("OPQ"[i % 3], (i // 3) % 10,
                             alnum[(i // 30) % 36], alnum[(i // 1080) % 36],
                             alnum[(i // 38880) % 36], (i // 7) % 10)


def xref_ids(i):
    """Bare-id forms of chemical i, one per detector family, keyed by prefix."""
    return {
        "CAS": "%d-%02d-%d" % (50 + i, i % 100, i % 10),
        "KEGG.COMPOUND": "C%05d" % (i % 100000),
        "KEGG.DRUG": "D%05d" % ((i * 7) % 100000),
        "PUBCHEM.COMPOUND": "%d" % (1000 + i * 3),
        "PUBCHEM.SUBSTANCE": "%d" % (1001 + i * 3),
        "PHARMGKB": "PA%d" % (10000 + i),
        "GENBANK": "%s%06d" % ("ABCDEFGH"[i % 8] + "KLMN"[i % 4], 100000 + i),
        "NDC": "%04d-%04d-%02d" % (1000 + i % 9000, i % 10000, i % 100),
        "SMPDB": "SMP%07d" % (500000 + i),
    }


PRIMES = [2, 3, 5, 7, 11, 13, 17, 19, 23, 29, 31, 37, 41, 43, 47, 53, 59, 61,
          67, 71, 73, 79, 83, 89, 97, 101, 103, 107, 109, 113]


class PipelineGen:
    def __init__(self, workload, seed):
        self.workload = workload
        self.rng = random.Random("%s:%d" % (workload, seed))
        self.size = SIZES[workload]
        self.shape = SHAPES[workload]
        self.kg = Kg()
        self.streams = {}

    def u(self, kind):
        """Next value of a per-decision low-discrepancy sequence: uniform like
        rng.random(), but with shares that hold exactly over the corpus, so
        every seed gives the same amount of work and only identities vary.
        Each decision steps by the root of its own prime, so decisions made
        in lockstep are not correlated."""
        if kind not in self.streams:
            prime = PRIMES[len(self.streams)]
            self.streams[kind] = [self.rng.random(), (prime ** 0.5) % 1.0]
        st = self.streams[kind]
        st[0] = (st[0] + st[1]) % 1.0
        return st[0]

    def count(self, kind, lo_hi):
        lo, hi = lo_hi
        return lo + int(self.u(kind) * (hi - lo + 1))

    def build_kg(self):
        rng, kg = self.rng, self.kg
        n_drugs, n_concepts = self.size["drugs"], self.size["concepts"]
        blocks = rng.sample(range(16 ** 5), 2 * n_concepts)
        self.concepts = []
        for k in range(n_concepts):
            cat, prefix = CONCEPT_KINDS[k % len(CONCEPT_KINDS)]
            cid = "%s:%07d" % (prefix, 9000000 + k)
            b1, b2 = qblock(blocks[2 * k]), qblock(blocks[2 * k + 1])
            display = b1[0].upper() + b1[1:]
            kg.cluster(cid, display, cat)
            kg.node(cid, display, cat, cid, rng)
            synonym = None
            if self.u("synonym") < 0.5:
                synonym = display + " " + b2
                kg.node("UMLS:C%07d" % (8000000 + k), synonym, cat, cid, rng)
            # a digit-bearing synonym that only stage 2 can resolve
            s2name = "%s protein %d" % (display, k)
            kg.node("MESH:D%07d" % (7000000 + k), s2name, cat, cid, rng)
            self.concepts.append(dict(cid=cid, display=display, block=b1,
                                      synonym=synonym, s2name=s2name, kind=k))
        # ambiguous mentions: some primary names also name a node elsewhere
        for k in range(0, n_concepts, 10):
            other = self.concepts[(k + 3) % n_concepts]
            kg.node("NCIT:C%07d" % (6000000 + k), self.concepts[k]["display"],
                    CONCEPT_KINDS[other["kind"] % len(CONCEPT_KINDS)][0],
                    other["cid"], rng)

        n_prot = max(50, n_drugs // 4)
        self.proteins = []
        for i in range(n_prot):
            acc = uniprot_acc(i)
            cid = "UniProtKB:" + acc
            name = "Protein %s %d" % (rng.choice(FILLER), i)
            kg.cluster(cid, name, "Protein")
            kg.node(cid, name, "Protein", cid, rng)
            gene = "GN%d" % i
            kg.node("NCBIGene:%d" % (100000 + i), gene, "Gene", cid, rng)
            self.proteins.append(dict(acc=acc, name=name, gene=gene, cid=cid))
        # names with several clusters: a decoy cluster reuses a protein name
        for i in range(0, n_prot, 7):
            p = self.proteins[i]
            cid = "PR:%09d" % (i + 1)
            kg.cluster(cid, p["name"] + " decoy", "Protein")
            kg.node(cid, p["name"], "Protein", cid, rng)
            if i % 14 == 0:   # outvotes the original cluster (2 nodes vs 2)
                kg.node("PR:%09d" % (500000000 + i), p["name"], "Protein",
                        cid, rng)

        n_chem = max(40, n_drugs // 5)
        self.chems = []
        for i in range(n_chem):
            cid = "CHEBI:%d" % (500000 + i)
            name = "Chemical %d" % i
            kg.cluster(cid, name, "SmallMolecule")
            kg.node(cid, name, "SmallMolecule", cid, rng)
            xs = xref_ids(i)
            present = [p for p in sorted(xs) if self.u("xref") < 0.6]
            for p in present:
                kg.node("%s:%s" % (p, xs[p]), "%s %d" % (p.lower(), i),
                        "SmallMolecule", cid, rng)
            self.chems.append(dict(cid=cid, xrefs=xs))

        self.drug_clusters = []
        for i in range(n_drugs):
            dbid = "DB%05d" % (i + 1)
            dup = i > 0 and self.u("dup") < 0.03
            if dup:
                cid = self.drug_clusters[-1]
            else:
                cid = "CHEMBL.COMPOUND:CHEMBL%d" % (100000 + i)
                kg.cluster(cid, "Drug %d" % i,
                           "Drug" if i % 3 else "SmallMolecule")
                kg.node(cid, "Drug %d" % i, "SmallMolecule", cid, rng)
            if self.u("unresolved") >= 0.05:     # 5% of drug ids stay unresolved
                kg.node("DRUGBANK:" + dbid, "drug %d" % i, "Drug", cid, rng)
            self.drug_clusters.append(cid)

    # -- text ---------------------------------------------------------------

    def mention(self, disease):
        rng = self.rng
        pool = self.concepts
        if disease:
            pool = [c for c in pool if c["kind"] % len(CONCEPT_KINDS) in DISEASE_KINDS]
        c = pool[min(int(rng.paretovariate(1.2)) - 1, len(pool) - 1)] \
            if rng.random() < 0.5 else rng.choice(pool)
        self.mentioned.append(c)
        form = self.u("form")
        if c["synonym"] and form < 0.25:
            return c["synonym"]
        if form < 0.45:
            return c["block"]
        if form < 0.55:
            return c["display"] + ","
        if form < 0.62:
            return "(" + c["display"] + ")"
        if form < 0.68:
            return c["block"].upper()
        if form < 0.72:   # bracketed: removed before NER
            return "[see " + c["display"] + "]"
        return c["display"]

    def sentence(self, n_words, disease):
        rng = self.rng
        words = [rng.choice(FILLER) for _ in range(max(n_words, 3))]
        words[0] = words[0].capitalize()
        if self.u("mention") < self.shape["mention_p"]:
            words.insert(rng.randrange(1, len(words) + 1), self.mention(disease))
        if self.u("citation") < 0.1:
            words.insert(rng.randrange(1, len(words) + 1),
                         "[%d]" % rng.randrange(1, 99))
        if self.u("long_token") < self.shape["odd_sentence_p"]:
            # a token too long to keep, sometimes between two mentions
            longtok = "".join(rng.choice("abcdefghijklmnoprstuvwxyz")
                              for _ in range(rng.randrange(100, 140)))
            pos = rng.randrange(1, len(words) + 1)
            if self.u("split_synonym") < 0.5:
                c = rng.choice([c for c in self.concepts if c["synonym"]])
                self.mentioned.append(c)
                words[pos:pos] = [c["block"], longtok, c["synonym"].split(" ")[1]]
            else:
                words.insert(pos, longtok)
        return " ".join(words)

    def field_text(self, n_words, disease):
        rng = self.rng
        sentences, left = [], n_words
        while left > 0:
            k = min(left, self.count("sentence_words", (8, 24)))
            sentences.append(self.sentence(k, disease))
            left -= k
        if self.u("short_sentence") < self.shape["odd_sentence_p"]:
            # too short to pass the sentence gate, mention included
            sentences.insert(rng.randrange(len(sentences) + 1),
                             "See " + self.mention(disease))
        if self.u("long_sentence") < self.shape["odd_sentence_p"] / 2:
            # too long to pass the sentence gate
            sentences.append(" ".join(self.sentence(20, disease)
                                      for _ in range(12)))
        return ". ".join(sentences) + "."

    # -- structured fields --------------------------------------------------

    def bare_id(self):
        """A bare identifier: resolvable, format-valid miss, or prefixed."""
        rng = self.rng
        r = self.u("bare_id")
        if r < 0.35:
            c = rng.choice(self.chems)
            return c["xrefs"][rng.choice(sorted(c["xrefs"]))]
        if r < 0.5:
            return "BE%07d" % rng.randrange(10 ** 6)
        if r < 0.6:
            return xref_ids(10 ** 5 + rng.randrange(10 ** 5))[
                rng.choice(["CAS", "KEGG.COMPOUND", "PHARMGKB", "NDC"])]
        if r < 0.7:
            return "DB%05d" % rng.randrange(1, self.size["drugs"] + 1)
        if r < 0.78:
            return "PR:%06d" % rng.randrange(10 ** 6)
        if r < 0.86:
            return uniprot_acc(rng.randrange(len(self.proteins) * 2))
        if r < 0.93:
            return "SMP%07d" % (500000 + rng.randrange(len(self.chems)))
        return "X%d" % rng.randrange(100)

    def bioentities(self, singular, lo_hi, collide):
        rng, shape = self.rng, self.shape
        n = self.count(singular, lo_hi)
        out = []
        for j in range(n):
            if collide and j == 0:
                name = collide["s2name"]
            elif self.u("listed_name") < 0.7:
                name = rng.choice(self.proteins)["name"]
            else:
                name = "Unlisted %s %d" % (singular, rng.randrange(10 ** 6))
            polys = []
            for _ in range(self.count("polys", shape["polys"])):
                p = rng.choice(self.proteins)
                pid = p["acc"] if self.u("poly_acc") < 0.7 else self.bare_id()
                polys.append((pid, p["name"], p["gene"]))
            out.append((self.bare_id(), name, polys))
        return out

    # -- corpus + planted truth ----------------------------------------------

    def generate(self, out):
        rng, shape = self.rng, self.shape
        self.build_kg()
        self.kg.write(out)
        dictionary, id_index, name_index = self.kg.indexes()

        drugs = []
        xml = ['<?xml version="1.0" encoding="UTF-8"?>\n',
               '<drugbank xmlns="http://www.drugbank.ca" version="5.1">\n']
        for i in range(self.size["drugs"]):
            self.mentioned = []
            dbid = "DB%05d" % (i + 1)
            texts = {}
            for (tag, col), words in zip(TEXT_FIELDS, shape["words"]):
                if words and self.u("field") < 0.93:
                    texts[col] = self.field_text(words, tag == "indication")
            if self.workload == "drugbank_ids":
                texts["description"] = self.field_text(shape["words"][0], False)
            collide = self.mentioned[0] if self.mentioned and self.u("collide") < 0.5 else None
            ents = {f: self.bioentities(f, shape[f + "s"],
                                        collide if f == "target" else None)
                    for f in ("target", "enzyme", "carrier", "transporter")}
            pathways = []
            for _ in range(self.count("pathways", shape["pathways"])):
                c = rng.choice(self.chems)
                pathways.append((c["xrefs"]["SMPDB"],
                                 [rng.choice(self.proteins)["acc"]
                                  for _ in range(self.count("pathway_enzymes", (0, 3)))]))
            drugs.append(dict(dbid=dbid, texts=texts, ents=ents,
                              pathways=pathways))

            x = ['  <drug type="small molecule">\n',
                 '    <drugbank-id primary="true">%s</drugbank-id>\n' % dbid]
            if i % 4 == 0:
                x.append('    <drugbank-id>APRD%05d</drugbank-id>\n' % i)
            x.append('    <name>Drug %d</name>\n' % i)
            for tag, col in TEXT_FIELDS:
                if col in texts:
                    x.append('    <%s>%s</%s>\n' % (tag, xml_escape(texts[col]), tag))
            for f in ("target", "enzyme", "carrier", "transporter"):
                if not ents[f]:
                    continue
                x.append('    <%ss>\n' % f)
                for eid, name, polys in ents[f]:
                    x.append('      <%s>\n        <id>%s</id>\n        <name>%s</name>\n'
                             % (f, eid, xml_escape(name)))
                    for pid, pname, gene in polys:
                        x.append('        <polypeptide id="%s" source="Swiss-Prot">\n'
                                 '          <name>%s</name>\n'
                                 '          <gene-name>%s</gene-name>\n'
                                 '        </polypeptide>\n' % (pid, xml_escape(pname), gene))
                    x.append('      </%s>\n' % f)
                x.append('    </%ss>\n' % f)
            if pathways:
                x.append('    <pathways>\n')
                for smp, enzymes in pathways:
                    x.append('      <pathway>\n        <smpdb-id>%s</smpdb-id>\n'
                             '        <name>Pathway %s</name>\n' % (smp, smp))
                    if enzymes:
                        x.append('        <enzymes>\n')
                        x.extend('          <uniprot-id>%s</uniprot-id>\n' % e
                                 for e in enzymes)
                        x.append('        </enzymes>\n')
                    x.append('      </pathway>\n')
                x.append('    </pathways>\n')
            x.append('  </drug>\n')
            xml.append("".join(x))
        xml.append('</drugbank>\n')
        with open(os.path.join(out, "drugs.xml"), "w") as f:
            f.write("".join(xml))
        return self.truth(out, drugs, dictionary, id_index, name_index)

    def truth(self, out, drugs, dictionary, id_index, name_index):
        kg = self.kg
        winners = {}
        unresolved = 0
        for d in drugs:
            cid = id_index.get("DRUGBANK:" + d["dbid"])
            if cid is None or cid not in kg.clusters:
                unresolved += 1
                continue
            old = winners.get(cid)
            if old is None or d["dbid"] > old["dbid"]:
                winners[cid] = d

        def triple(cid):
            name, cat = kg.clusters[cid]
            return (cid, name, biolink(cat))

        t = dict(drugs=len(drugs), unresolved=unresolved,
                 duplicate_kg2_ids=len(drugs) - unresolved - len(winners),
                 records=len(winners), ind_entries=0, mech1_entries=0,
                 mech2_entries=0, names_mined=0, ids_mined=0,
                 names_aligned=0, id_candidates=0, ids_aligned=0,
                 first_wins_collisions=0, longest_wins_contests=0,
                 ids_gated_by_colon=0)
        rows = []
        for cid in sorted(winners):
            d = winners[cid]
            texts = d["texts"]
            ind = {}
            if "indication" in texts:
                ind, _ = ner_hits(BRACKETS.sub("", texts["indication"]),
                                  dictionary, IND_CATEGORIES)
            mech_text = "".join(BRACKETS.sub("", texts[c]) + "\n "
                                for _, c in TEXT_FIELDS if texts.get(c))
            mech, contests = ner_hits(mech_text, dictionary, MECH_CATEGORIES)
            t["longest_wins_contests"] += contests
            names, ids = [], []
            for f in ("target", "enzyme", "carrier", "transporter"):
                fn, fi = [], []
                for eid, name, polys in d["ents"][f]:
                    fn.append(name)
                    fi.append(eid)
                for eid, name, polys in d["ents"][f]:
                    fi.extend(p[0] for p in polys)
                fn.extend(p[1] for _, _, polys in d["ents"][f] for p in polys)
                fn.extend(p[2] for _, _, polys in d["ents"][f] for p in polys)
                names.extend(dict.fromkeys(fn))
                ids.extend(dict.fromkeys(fi))
            ids.extend(dict.fromkeys("SMPDB:" + s for s, _ in d["pathways"]))
            t["names_mined"] += len(names)
            t["ids_mined"] += len(ids)
            aligned_names = {name_index[simplify(n)] for n in names
                             if simplify(n) in name_index}
            aligned_ids, cands = set(), set()
            for bare in ids:
                if ":" in bare:
                    t["ids_gated_by_colon"] += 1
                c, h = align_id(bare, id_index)
                cands |= c
                aligned_ids |= h
            t["names_aligned"] += len(aligned_names)
            t["id_candidates"] += len(cands)
            t["ids_aligned"] += len(aligned_ids)
            mech2 = dict(mech)
            for a in aligned_names | aligned_ids:
                if a in mech2:
                    t["first_wins_collisions"] += 1
                else:
                    _, name, cat = triple(a)
                    mech2[a] = (name, cat)
            t["ind_entries"] += len(ind)
            t["mech1_entries"] += len(mech)
            t["mech2_entries"] += len(mech2)
            _, pname, pcat = triple(cid)
            rows.append({
                "kg2_id": cid, "drug_bank_id": d["dbid"], "name": pname,
                "category": pcat,
                "ind": sorted([k, v[0], v[1]] for k, v in ind.items()),
                "mech1": sorted([k, v[0], v[1]] for k, v in mech.items()),
                "mech2": sorted([k, v[0], v[1]] for k, v in mech2.items())})
        os.makedirs(os.path.join(out, "expected"), exist_ok=True)
        write_jsonl(rows, os.path.join(out, "expected", "records.jsonl"))
        return t


# --- synonymizer lookup workload --------------------------------------------

LOOKUP_PREFIXES = ["UniProtKB", "CHEBI", "MONDO", "NCBIGene", "HP", "GO",
                   "CHEMBL.COMPOUND", "MESH", "UMLS", "DOID",
                   "PUBCHEM.COMPOUND", "NCIT"]
LOOKUP_CATS = ["Protein", "SmallMolecule", "Disease", "Gene",
               "PhenotypicFeature", "BiologicalProcess", "Drug",
               "ChemicalEntity", "Disease", "Disease", "SmallMolecule",
               "NamedThing"]
WORDS_A = ("acetyl amino benzo chloro cyclo dihydro ethyl fluoro hydroxy "
           "iso keto lipo methyl nitro oxo phenyl pyro sulfo thio vinyl "
           "alpha beta gamma delta sigma omega carba cyano deoxy epoxy").split()
WORDS_B = ("amide amine azole cillin cycline dipine floxacin gliptin mab "
           "nib olol pril profen sartan setron statin tidine vir zepam zole "
           "ase ine ol one ate ide ium").split()
# (operation, share of requests); the schedule below follows these shares
LOOKUP_OPS = ["canonicalCuriesByCurie", "canonicalCuriesByName",
              "canonicalCuriesFallback", "equivalentNodes",
              "normalizerResults.full", "normalizerResults.minimal",
              "suffixSearch"]
LOOKUP_SCHEDULE_OPS = [0, 1, 2, 3, 0, 1, 4, 5, 6, 2, 3, 0, 1, 5]  # 14 slots
LOOKUP_SIZES = [1, 20, 3, 300, 10, 1, 100, 30, 1000, 5, 50, 2, 200]  # 13 slots
LOOKUP_MISS_SHARE = 0.1


class LookupGen:
    def __init__(self, seed):
        self.seed = seed
        self.np = np.random.default_rng([seed, 7])
        self.size = SIZES["synonymizer_lookup"]

    def generate(self, out):
        g, sz = self.np, self.size
        n, c, v = sz["nodes"], sz["clusters"], sz["names"]
        idx = np.arange(n, dtype=np.int64)
        cluster = np.concatenate([np.arange(c), g.integers(0, c, n - c)])
        base = np.minimum(g.zipf(1.3, c) - 1, v - 1)
        own = np.minimum(g.zipf(1.3, n) - 1, v - 1)
        name_id = np.where(g.random(n) < 0.7, base[cluster], own)

        prefixes = pa.array(LOOKUP_PREFIXES)
        pidx = pa.array(idx % len(LOOKUP_PREFIXES))
        local = pc.utf8_lpad(pa.array(idx // 4).cast(pa.string()), 7, "0")
        ids = pc.binary_join_element_wise(prefixes.take(pidx), local, ":")
        ids_simplified = pc.binary_join_element_wise(
            pc.utf8_upper(prefixes.take(pidx)), local, ":")
        names_all = self.names(np.arange(v))
        names = names_all.take(pa.array(name_id))
        names_simplified = pc.utf8_lower(pc.replace_substring_regex(
            names, r"[\s!-/:-@\[-`{-~]", ""))
        cats = pa.array(LOOKUP_CATS).take(pidx)
        cluster_ids = ids.take(pa.array(cluster))
        sri = pa.array(g.random(n) < 0.8)
        pre = pa.array(g.random(n) < 0.9)
        nulls = pa.nulls(n, pa.string())
        nodes = pa.table({
            "id": ids, "id_simplified": ids_simplified, "name": names,
            "name_simplified": names_simplified, "category": cats,
            "cluster_id": cluster_ids, "major_branch": cats,
            "name_sri": pc.if_else(sri, names, nulls),
            "category_sri": pc.if_else(sri, cats, nulls),
            "name_kg2pre": pc.if_else(pre, names, nulls),
            "category_kg2pre": pc.if_else(pre, cats, nulls)})
        write_parquet(nodes, os.path.join(out, "kg", "nodes"))

        # clusters: members in node order, one edge rep -> member per non-rep
        order = np.argsort(cluster, kind="stable")
        counts = np.bincount(cluster, minlength=c)
        offsets = pa.array(np.concatenate([[0], np.cumsum(counts)]).astype(np.int32))
        members = pa.ListArray.from_arrays(offsets, ids.take(pa.array(order)))
        edge_ids = pc.binary_join_element_wise(
            pa.array(["E"] * n), pa.array(idx).cast(pa.string()), "")
        edge_ids = pc.if_else(pa.array(idx < c), nulls, edge_ids)
        nonrep = order[order >= c]
        e_counts = counts - 1
        e_offsets = pa.array(np.concatenate([[0], np.cumsum(e_counts)]).astype(np.int32))
        edges_of = pa.ListArray.from_arrays(e_offsets, edge_ids.take(pa.array(nonrep)))
        clusters = pa.table({
            "cluster_id": ids.slice(0, c), "name": names.slice(0, c),
            "category": cats.slice(0, c), "member_ids": members,
            "intra_cluster_edge_ids": edges_of})
        write_parquet(clusters, os.path.join(out, "kg", "clusters"))
        rep = pa.array(cluster[nonrep])
        edges = pa.table({
            "id": edge_ids.take(pa.array(nonrep)),
            "subject": ids.take(rep), "predicate": pa.array(["biolink:same_as"] * len(nonrep)),
            "object": ids.take(pa.array(nonrep)),
            "upstream_resource_id": pa.array(["infores:perfbench"] * len(nonrep)),
            "primary_knowledge_source": pa.array(["infores:perfbench"] * len(nonrep))})
        write_parquet(edges, os.path.join(out, "kg", "edges"))

        # name -> argmax cluster: most nodes, ties to the smallest cluster id
        cid_str = np.array(ids.slice(0, c).to_pylist())
        rank = np.empty(c, dtype=np.int64)
        rank[np.argsort(cid_str, kind="stable")] = np.arange(c)
        pair, pair_n = np.unique(name_id * c + cluster, return_counts=True)
        p_name, p_cluster = pair // c, pair % c
        best = np.lexsort((rank[p_cluster], -pair_n, p_name))
        first = np.ones(len(best), dtype=bool)
        first[1:] = p_name[best][1:] != p_name[best][:-1]
        name_cluster = dict(zip(p_name[best][first].tolist(),
                                p_cluster[best][first].tolist()))
        self.cid_str, self.counts = cid_str, counts
        self.requests(out, names_all, cluster, name_cluster, n)
        return dict(nodes=n, clusters=c, edges=len(nonrep), names=v,
                    named=len(name_cluster))

    def names(self, k):
        a = pa.array(WORDS_A).take(pa.array(k % len(WORDS_A)))
        b = pa.array(WORDS_B).take(pa.array((k // len(WORDS_A)) % len(WORDS_B)))
        return pc.binary_join_element_wise(
            pc.utf8_capitalize(a),
            pc.binary_join_element_wise(b, pa.array(k).cast(pa.string()), "-"),
            " ")

    def requests(self, out, names_all, cluster, name_cluster, n):
        g, cid_str, counts = self.np, self.cid_str, self.counts
        named = np.array(sorted(name_cluster))
        reqs, expect = [], []
        for r in range(self.size["requests"]):
            op = LOOKUP_OPS[LOOKUP_SCHEDULE_OPS[r % len(LOOKUP_SCHEDULE_OPS)]]
            size = LOOKUP_SIZES[r % len(LOOKUP_SIZES)]
            inputs, exp = [], {}
            while len(inputs) < size:
                miss = g.random() < LOOKUP_MISS_SHARE
                by_name = op == "canonicalCuriesByName" or (
                    op in ("canonicalCuriesFallback", "normalizerResults.full",
                           "normalizerResults.minimal") and g.random() < 0.5)
                cl = None
                if op == "suffixSearch":
                    loc = int(g.integers(n // 4 + 1000, n // 4 + 10 ** 6)) if miss \
                        else int(g.integers(0, n // 4))
                    key = "%07d" % loc
                    value = sorted({cid_str[cluster[i]]
                                    for i in range(4 * loc, min(4 * loc + 4, n))}) or None
                elif by_name:
                    if miss:
                        key = "Unlisted compound %d" % g.integers(10 ** 6)
                    else:
                        k = int(named[g.integers(len(named))])
                        key = self.surface(names_all[k].as_py(), g)
                        cl = name_cluster[k]
                else:
                    i = int(g.integers(0, n))
                    p = LOOKUP_PREFIXES[i % len(LOOKUP_PREFIXES)]
                    if g.random() < 0.3:
                        p = p.lower()
                    if miss:
                        key = "%s:%07d" % (p, n // 4 + int(g.integers(10 ** 6)))
                    else:
                        key, cl = "%s:%07d" % (p, i // 4), int(cluster[i])
                if op != "suffixSearch":
                    value = None if cl is None else cid_str[cl]
                    if cl is not None and op in ("equivalentNodes",
                                                 "normalizerResults.full"):
                        value = [value, int(counts[cl])]
                if key in exp:
                    continue
                inputs.append(key)
                exp[key] = value
            reqs.append({"id": r, "op": op, "inputs": inputs})
            expect.append({"id": r, "expect": [[k, exp[k]] for k in inputs]})
        write_jsonl(reqs, os.path.join(out, "requests.jsonl"))
        os.makedirs(os.path.join(out, "expected"), exist_ok=True)
        write_jsonl(expect, os.path.join(out, "expected", "lookups.jsonl"))

    @staticmethod
    def surface(name, g):
        """A spelling of `name` that simplifies to the same key."""
        r = g.random()
        if r < 0.3:
            return name.upper()
        if r < 0.5:
            return name.lower().replace("-", " ")
        if r < 0.6:
            return name.replace(" ", "_") + "."
        return name


# --- entry point ------------------------------------------------------------

WORKLOADS = ("drugbank_text", "drugbank_ids", "synonymizer_lookup")


def generate(workload, seed, out):
    """Writes the workload's inputs and planted truth under `out`."""
    os.makedirs(out, exist_ok=True)
    if workload == "synonymizer_lookup":
        truth = LookupGen(seed).generate(out)
        extra = dict(prefixes=LOOKUP_PREFIXES, ops=LOOKUP_OPS,
                     miss_share=LOOKUP_MISS_SHARE)
    else:
        truth = PipelineGen(workload, seed).generate(out)
        extra = {}
    manifest = dict(workload=workload, seed=seed, sizes=SIZES[workload],
                    truth=truth, **extra)
    write_json(manifest, os.path.join(out, "manifest.json"))
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    print(json.dumps(generate(a.workload, a.seed, a.out)["truth"]))


if __name__ == "__main__":
    main()
