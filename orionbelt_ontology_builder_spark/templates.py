"""Built-in ontology templates + upper-ontology module loader.

Parity target: ``/root/reference/templates.py`` (catalog at :5-317,
accessors :318-333, upper-ontology registry :338-400).  The reference
ships five hand-written Turtle starter templates with a ``{base_uri}``
placeholder plus a gist-module registry; the engine re-expresses the
same surface with its own template content (the *capability* — named
template -> rendered Turtle -> distributed triples DataFrame — is the
parity point, not the reference's exact starter triples).

Spark-first: ``load_template`` / ``load_upper_ontology`` feed the
rendered Turtle through :mod:`..sources.parsers`, so template
instantiation lands directly in the engine's 6-column triples
DataFrame and every downstream view/mutation works unchanged.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# --------------------------------------------------------------------- #
# Starter templates (reference templates.py:5-317 — same names,
# engine-authored content)
# --------------------------------------------------------------------- #

_PREAMBLE = """@prefix : <{base_uri}> .
@prefix owl: <http://www.w3.org/2002/07/owl#> .
@prefix rdf: <http://www.w3.org/1999/02/22-rdf-syntax-ns#> .
@prefix rdfs: <http://www.w3.org/2000/01/rdf-schema#> .
@prefix xsd: <http://www.w3.org/2001/XMLSchema#> .
@prefix skos: <http://www.w3.org/2004/02/skos/core#> .
"""

TEMPLATES: list[dict] = [
    {
        "name": "Organization",
        "description": (
            "Starter org-chart ontology: organizations, teams, people "
            "and membership/leadership relations."
        ),
        "turtle": _PREAMBLE
        + """
:Organization a owl:Class ; rdfs:label "Organization" .
:Team a owl:Class ; rdfs:label "Team" ; rdfs:subClassOf :Organization .
:Person a owl:Class ; rdfs:label "Person" .

:memberOf a owl:ObjectProperty ; rdfs:label "member of" ;
    rdfs:domain :Person ; rdfs:range :Organization .
:leads a owl:ObjectProperty ; rdfs:label "leads" ;
    rdfs:domain :Person ; rdfs:range :Team .
:partOf a owl:ObjectProperty ; rdfs:label "part of" ;
    rdfs:domain :Team ; rdfs:range :Organization .

:fullName a owl:DatatypeProperty ; rdfs:label "full name" ;
    rdfs:domain :Person ; rdfs:range xsd:string .
:headcount a owl:DatatypeProperty ; rdfs:label "headcount" ;
    rdfs:domain :Organization ; rdfs:range xsd:integer .
""",
    },
    {
        "name": "Product Catalog",
        "description": (
            "Starter commerce ontology: products, categories, suppliers "
            "and pricing attributes."
        ),
        "turtle": _PREAMBLE
        + """
:Product a owl:Class ; rdfs:label "Product" .
:Category a owl:Class ; rdfs:label "Category" .
:Supplier a owl:Class ; rdfs:label "Supplier" .

:inCategory a owl:ObjectProperty ; rdfs:label "in category" ;
    rdfs:domain :Product ; rdfs:range :Category .
:suppliedBy a owl:ObjectProperty ; rdfs:label "supplied by" ;
    rdfs:domain :Product ; rdfs:range :Supplier .
:subCategoryOf a owl:ObjectProperty ; rdfs:label "sub-category of" ;
    rdfs:domain :Category ; rdfs:range :Category .

:sku a owl:DatatypeProperty ; rdfs:label "sku" ;
    rdfs:domain :Product ; rdfs:range xsd:string .
:listPrice a owl:DatatypeProperty ; rdfs:label "list price" ;
    rdfs:domain :Product ; rdfs:range xsd:decimal .
""",
    },
    {
        "name": "Event",
        "description": (
            "Starter event ontology: events, venues, participants and "
            "scheduling attributes."
        ),
        "turtle": _PREAMBLE
        + """
:Event a owl:Class ; rdfs:label "Event" .
:Venue a owl:Class ; rdfs:label "Venue" .
:Participant a owl:Class ; rdfs:label "Participant" .

:heldAt a owl:ObjectProperty ; rdfs:label "held at" ;
    rdfs:domain :Event ; rdfs:range :Venue .
:attends a owl:ObjectProperty ; rdfs:label "attends" ;
    rdfs:domain :Participant ; rdfs:range :Event .
:organizes a owl:ObjectProperty ; rdfs:label "organizes" ;
    rdfs:domain :Participant ; rdfs:range :Event .

:startsAt a owl:DatatypeProperty ; rdfs:label "starts at" ;
    rdfs:domain :Event ; rdfs:range xsd:dateTime .
:capacity a owl:DatatypeProperty ; rdfs:label "capacity" ;
    rdfs:domain :Venue ; rdfs:range xsd:integer .
""",
    },
    {
        "name": "Person / Contact",
        "description": (
            "Starter contact ontology: people, addresses and contact "
            "details with a knows relation."
        ),
        "turtle": _PREAMBLE
        + """
:Person a owl:Class ; rdfs:label "Person" .
:Address a owl:Class ; rdfs:label "Address" .

:knows a owl:ObjectProperty ; rdfs:label "knows" ;
    rdfs:domain :Person ; rdfs:range :Person .
:residesAt a owl:ObjectProperty ; rdfs:label "resides at" ;
    rdfs:domain :Person ; rdfs:range :Address .

:givenName a owl:DatatypeProperty ; rdfs:label "given name" ;
    rdfs:domain :Person ; rdfs:range xsd:string .
:email a owl:DatatypeProperty ; rdfs:label "email" ;
    rdfs:domain :Person ; rdfs:range xsd:string .
:city a owl:DatatypeProperty ; rdfs:label "city" ;
    rdfs:domain :Address ; rdfs:range xsd:string .
""",
    },
    {
        "name": "SKOS Thesaurus",
        "description": (
            "Starter SKOS scheme: a concept scheme with a two-level "
            "broader/narrower concept hierarchy."
        ),
        "turtle": _PREAMBLE
        + """
:scheme a skos:ConceptScheme ; rdfs:label "Starter Thesaurus" .

:topic a skos:Concept ; skos:prefLabel "Topic" ;
    skos:inScheme :scheme ; skos:topConceptOf :scheme .
:subtopic a skos:Concept ; skos:prefLabel "Subtopic" ;
    skos:inScheme :scheme ; skos:broader :topic .
:sibling a skos:Concept ; skos:prefLabel "Sibling topic" ;
    skos:inScheme :scheme ; skos:broader :topic ;
    skos:related :subtopic .
""",
    },
]


def get_template_names() -> list[str]:
    """Reference ``templates.py:318-320``."""
    return [t["name"] for t in TEMPLATES]


def get_template(name: str) -> dict | None:
    """Reference ``templates.py:323-328``."""
    for t in TEMPLATES:
        if t["name"] == name:
            return t
    return None


def render_template(template: dict, base_uri: str) -> str:
    """``{base_uri}`` substitution (reference ``templates.py:331-333``)."""
    return template["turtle"].replace("{base_uri}", base_uri)


def load_template(spark: SparkSession, name: str, base_uri: str) -> DataFrame:
    """Render a named template and parse it into the engine's 6-column
    triples DataFrame (app-level flow, reference ``app.py`` New-from-
    template path).  Raises KeyError on unknown template names."""
    t = get_template(name)
    if t is None:
        raise KeyError(f"unknown template: {name!r}")
    from .sources import parsers

    return parsers.parse(spark, render_template(t, base_uri), "turtle")


# --------------------------------------------------------------------- #
# Upper-ontology registry (reference templates.py:338-400)
# --------------------------------------------------------------------- #

#: Default location of bundled sample ontologies.  Overridable because
#: the engine repo does not vendor the (CC-BY) gist files itself.
SAMPLES_DIR = os.environ.get(
    "ORIONBELT_SAMPLES_DIR", "/root/reference/samples"
)

UPPER_ONTOLOGIES: list[dict] = [
    {
        "name": "gist (Semantic Arts)",
        "version": "14.1.0",
        "description": (
            "Minimalist enterprise upper ontology by Semantic Arts "
            "(CC BY 4.0); ~100 foundational classes and properties."
        ),
        "url": "https://www.semanticarts.com/gist/",
        "license": "Creative Commons Attribution 4.0 International (CC BY 4.0)",
        "attribution": "Semantic Arts, Inc.",
        "modules": [
            {
                "name": "gistCore",
                "file": "gist/gistCore14.1.0.ttl",
                "description": "Core classes, properties and restrictions",
                "required": True,
            },
            {
                "name": "gistRdfsAnnotations",
                "file": "gist/gistRdfsAnnotations14.1.0.ttl",
                "description": "rdfs:label/comment compatibility annotations",
                "required": False,
                "default": True,
            },
            {
                "name": "gistSubClassAssertions",
                "file": "gist/gistSubClassAssertions14.1.0.ttl",
                "description": "Materialized subclass inferences",
                "required": False,
                "default": True,
            },
            {
                "name": "gistMediaTypes",
                "file": "gist/gistMediaTypes14.1.0.ttl",
                "description": "Common internet media type instances",
                "required": False,
                "default": False,
            },
        ],
    },
]


def get_upper_ontology(name: str) -> dict | None:
    """Reference ``templates.py:390-395``."""
    for o in UPPER_ONTOLOGIES:
        if o["name"] == name:
            return o
    return None


def load_upper_ontology_module(
    module: dict, samples_dir: str | None = None
) -> str:
    """Read one module's Turtle text (reference ``templates.py:398-400``)."""
    path = os.path.join(samples_dir or SAMPLES_DIR, module["file"])
    with open(path, encoding="utf-8") as fh:
        return fh.read()


def load_upper_ontology(
    spark: SparkSession,
    name: str,
    modules: list[str] | None = None,
    samples_dir: str | None = None,
) -> DataFrame:
    """Parse the selected modules of an upper ontology into one triples
    DataFrame.  ``modules=None`` selects required + default modules (the
    reference UI's initial checkbox state).  Module DataFrames are
    unioned — parsing is per-module (each Turtle document carries its
    own prefix table) and the union is a cheap narrow op."""
    onto = get_upper_ontology(name)
    if onto is None:
        raise KeyError(f"unknown upper ontology: {name!r}")
    if modules is None:
        selected = [
            m for m in onto["modules"]
            if m.get("required") or m.get("default")
        ]
    else:
        want = set(modules)
        selected = [m for m in onto["modules"] if m["name"] in want]
        missing = want - {m["name"] for m in selected}
        if missing:
            raise KeyError(f"unknown modules: {sorted(missing)}")
    from .sources import parsers

    out: DataFrame | None = None
    for m in selected:
        df = parsers.parse(
            spark, load_upper_ontology_module(m, samples_dir), "turtle"
        )
        out = df if out is None else out.unionByName(df)
    if out is None:
        raise ValueError("no modules selected")
    return out
