"""Core data model: the canonical ``triples`` DataFrame and RDF vocabulary.

Reference semantics reproduced here (citations into /root/reference):
  * the engine's single data structure is a *set* of (s, p, o) triples
    (``ontology_manager.py:59``, merge dedup ``:2134-2137``);
  * object terms are URIs, bnodes, or literals with optional language tag
    and datatype, and term equality includes lang/datatype
    (``ontology_manager.py:1352-1367``);
  * ``_uri`` prefixes a local name with the base namespace unless already
    absolute (``ontology_manager.py:288-292``);
  * ``_local_name`` strips at last ``#`` else last ``/``
    (``ontology_manager.py:294-299``).

Spark mapping: one 6-column all-string DataFrame.  The
(obj, obj_kind, obj_lang, obj_dt) quadruple is the lossless term encoding
that makes ``distinct`` and the ``setops.sides`` membership fold (both
group NULL slots as equal) reproduce rdflib set semantics exactly.  All-string keeps parquet dictionary encoding and
min/max pruning effective at scale; there is no nested type in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Vocabulary (public W3C namespaces; mirrors reference imports
# ontology_manager.py:5-27)
# ---------------------------------------------------------------------------

RDF_NS = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
RDFS_NS = "http://www.w3.org/2000/01/rdf-schema#"
OWL_NS = "http://www.w3.org/2002/07/owl#"
XSD_NS = "http://www.w3.org/2001/XMLSchema#"
SKOS_NS = "http://www.w3.org/2004/02/skos/core#"
DC_NS = "http://purl.org/dc/elements/1.1/"
DCT_NS = "http://purl.org/dc/terms/"
SCHEMA_NS = "https://schema.org/"
GIST_NS = "https://w3id.org/semanticarts/ns/ontology/gist/"


class RDF:
    type = RDF_NS + "type"
    first = RDF_NS + "first"
    rest = RDF_NS + "rest"
    nil = RDF_NS + "nil"
    Property = RDF_NS + "Property"
    Seq = RDF_NS + "Seq"
    Bag = RDF_NS + "Bag"
    Alt = RDF_NS + "Alt"
    Statement = RDF_NS + "Statement"
    subject = RDF_NS + "subject"
    predicate = RDF_NS + "predicate"
    object = RDF_NS + "object"


class RDFS:
    label = RDFS_NS + "label"
    comment = RDFS_NS + "comment"
    subClassOf = RDFS_NS + "subClassOf"
    subPropertyOf = RDFS_NS + "subPropertyOf"
    domain = RDFS_NS + "domain"
    range = RDFS_NS + "range"
    Class = RDFS_NS + "Class"
    Resource = RDFS_NS + "Resource"
    seeAlso = RDFS_NS + "seeAlso"
    isDefinedBy = RDFS_NS + "isDefinedBy"


class OWL:
    Ontology = OWL_NS + "Ontology"
    Class = OWL_NS + "Class"
    ObjectProperty = OWL_NS + "ObjectProperty"
    DatatypeProperty = OWL_NS + "DatatypeProperty"
    AnnotationProperty = OWL_NS + "AnnotationProperty"
    NamedIndividual = OWL_NS + "NamedIndividual"
    Restriction = OWL_NS + "Restriction"
    Thing = OWL_NS + "Thing"
    imports = OWL_NS + "imports"
    versionIRI = OWL_NS + "versionIRI"
    versionInfo = OWL_NS + "versionInfo"
    inverseOf = OWL_NS + "inverseOf"
    equivalentClass = OWL_NS + "equivalentClass"
    equivalentProperty = OWL_NS + "equivalentProperty"
    disjointWith = OWL_NS + "disjointWith"
    propertyDisjointWith = OWL_NS + "propertyDisjointWith"
    sameAs = OWL_NS + "sameAs"
    differentFrom = OWL_NS + "differentFrom"
    AllDifferent = OWL_NS + "AllDifferent"
    distinctMembers = OWL_NS + "distinctMembers"
    hasKey = OWL_NS + "hasKey"
    disjointUnionOf = OWL_NS + "disjointUnionOf"
    unionOf = OWL_NS + "unionOf"
    intersectionOf = OWL_NS + "intersectionOf"
    complementOf = OWL_NS + "complementOf"
    oneOf = OWL_NS + "oneOf"
    propertyChainAxiom = OWL_NS + "propertyChainAxiom"
    Axiom = OWL_NS + "Axiom"
    annotatedSource = OWL_NS + "annotatedSource"
    annotatedProperty = OWL_NS + "annotatedProperty"
    annotatedTarget = OWL_NS + "annotatedTarget"
    onProperty = OWL_NS + "onProperty"
    onClass = OWL_NS + "onClass"
    someValuesFrom = OWL_NS + "someValuesFrom"
    allValuesFrom = OWL_NS + "allValuesFrom"
    hasValue = OWL_NS + "hasValue"
    minCardinality = OWL_NS + "minCardinality"
    maxCardinality = OWL_NS + "maxCardinality"
    cardinality = OWL_NS + "cardinality"
    minQualifiedCardinality = OWL_NS + "minQualifiedCardinality"
    maxQualifiedCardinality = OWL_NS + "maxQualifiedCardinality"
    qualifiedCardinality = OWL_NS + "qualifiedCardinality"
    Nothing = OWL_NS + "Nothing"
    FunctionalProperty = OWL_NS + "FunctionalProperty"
    InverseFunctionalProperty = OWL_NS + "InverseFunctionalProperty"
    TransitiveProperty = OWL_NS + "TransitiveProperty"
    SymmetricProperty = OWL_NS + "SymmetricProperty"
    AsymmetricProperty = OWL_NS + "AsymmetricProperty"
    ReflexiveProperty = OWL_NS + "ReflexiveProperty"
    IrreflexiveProperty = OWL_NS + "IrreflexiveProperty"


class SKOS:
    ConceptScheme = SKOS_NS + "ConceptScheme"
    Concept = SKOS_NS + "Concept"
    inScheme = SKOS_NS + "inScheme"
    prefLabel = SKOS_NS + "prefLabel"
    altLabel = SKOS_NS + "altLabel"
    definition = SKOS_NS + "definition"
    broader = SKOS_NS + "broader"
    narrower = SKOS_NS + "narrower"
    related = SKOS_NS + "related"
    closeMatch = SKOS_NS + "closeMatch"
    exactMatch = SKOS_NS + "exactMatch"
    relatedMatch = SKOS_NS + "relatedMatch"
    broadMatch = SKOS_NS + "broadMatch"
    narrowMatch = SKOS_NS + "narrowMatch"
    notation = SKOS_NS + "notation"
    scopeNote = SKOS_NS + "scopeNote"
    example = SKOS_NS + "example"
    hasTopConcept = SKOS_NS + "hasTopConcept"
    topConceptOf = SKOS_NS + "topConceptOf"


PROV_NS = "http://www.w3.org/ns/prov#"


class PROV:
    wasDerivedFrom = PROV_NS + "wasDerivedFrom"
    generatedAtTime = PROV_NS + "generatedAtTime"


SKOSXL_NS = "http://www.w3.org/2008/05/skos-xl#"


class SKOSXL:
    Label = SKOSXL_NS + "Label"
    prefLabel = SKOSXL_NS + "prefLabel"
    altLabel = SKOSXL_NS + "altLabel"
    hiddenLabel = SKOSXL_NS + "hiddenLabel"
    literalForm = SKOSXL_NS + "literalForm"


class XSD:
    string = XSD_NS + "string"
    integer = XSD_NS + "integer"
    float = XSD_NS + "float"
    double = XSD_NS + "double"
    boolean = XSD_NS + "boolean"
    date = XSD_NS + "date"
    dateTime = XSD_NS + "dateTime"
    time = XSD_NS + "time"
    decimal = XSD_NS + "decimal"
    anyURI = XSD_NS + "anyURI"
    nonNegativeInteger = XSD_NS + "nonNegativeInteger"
    positiveInteger = XSD_NS + "positiveInteger"


#: XSD datatypes accepted for data-property ranges
#: (reference ``ontology_manager.py:29-42``).
XSD_DATATYPES = {
    "string": XSD.string,
    "integer": XSD.integer,
    "int": XSD.integer,
    "float": XSD.float,
    "double": XSD.double,
    "boolean": XSD.boolean,
    "date": XSD.date,
    "dateTime": XSD.dateTime,
    "time": XSD.time,
    "decimal": XSD.decimal,
    "anyURI": XSD.anyURI,
    "nonNegativeInteger": XSD.nonNegativeInteger,
    "positiveInteger": XSD.positiveInteger,
}

#: Restriction type predicates in the reference's decode priority order
#: (``ontology_manager.py:45-55``, first-match wins at ``:1156-1164``).
RESTRICTION_TYPES = [
    ("someValuesFrom", OWL.someValuesFrom),
    ("allValuesFrom", OWL.allValuesFrom),
    ("hasValue", OWL.hasValue),
    ("minCardinality", OWL.minCardinality),
    ("maxCardinality", OWL.maxCardinality),
    ("cardinality", OWL.cardinality),
    ("minQualifiedCardinality", OWL.minQualifiedCardinality),
    ("maxQualifiedCardinality", OWL.maxQualifiedCardinality),
    ("qualifiedCardinality", OWL.qualifiedCardinality),
]

#: Object-property characteristic flags probed by the reference
#: (``ontology_manager.py:915-928``).
PROPERTY_CHARACTERISTICS = [
    ("functional", OWL.FunctionalProperty),
    ("inverse_functional", OWL.InverseFunctionalProperty),
    ("transitive", OWL.TransitiveProperty),
    ("symmetric", OWL.SymmetricProperty),
    ("asymmetric", OWL.AsymmetricProperty),
    ("reflexive", OWL.ReflexiveProperty),
    ("irreflexive", OWL.IrreflexiveProperty),
]

#: Structural predicates excluded from "annotations" views
#: (reference ``ontology_manager.py:1249-1258``).
STRUCTURAL_PREDICATES = {
    RDF.type,
    RDFS.subClassOf,
    RDFS.subPropertyOf,
    RDFS.domain,
    RDFS.range,
    OWL.inverseOf,
    OWL.equivalentClass,
    OWL.equivalentProperty,
    OWL.disjointWith,
    OWL.propertyDisjointWith,
    OWL.sameAs,
    OWL.differentFrom,
    OWL.onProperty,
    OWL.imports,
    SKOS.inScheme,
    SKOS.broader,
    SKOS.narrower,
    SKOS.related,
}

#: Predicates subject to conflict resolution on MERGE_OVERWRITE
#: (reference ``ontology_manager.py:2141-2144``).
CONFLICT_PREDICATES = [
    RDFS.label,
    RDFS.domain,
    RDFS.range,
    RDFS.comment,
    OWL.versionIRI,
    DC_NS + "creator",
    DCT_NS + "creator",
]

#: Well-known annotation-name aliases resolved by ``add_annotation``
#: (reference ``ontology_manager.py:1211-1227``; the smaller delete-side
#: map at ``:1337-1342`` is a subset — both resolve through this one,
#: unknown names fall back to ``base + name``).
ANNOTATION_PREDICATES = {
    "label": RDFS.label,
    "comment": RDFS.comment,
    "seeAlso": RDFS.seeAlso,
    "isDefinedBy": RDFS.isDefinedBy,
    "prefLabel": SKOS.prefLabel,
    "altLabel": SKOS.altLabel,
    "definition": SKOS.definition,
    "example": SKOS.example,
    "note": SKOS_NS + "note",
    "title": DCT_NS + "title",
    "description": DCT_NS + "description",
    "creator": DCT_NS + "creator",
    "contributor": DCT_NS + "contributor",
    "date": DCT_NS + "date",
    "deprecated": OWL_NS + "deprecated",
}

#: Standard prefix bindings (reference ``ontology_manager.py:64-71``;
#: protected at ``:117``).
STANDARD_PREFIXES = {
    "rdf": RDF_NS,
    "rdfs": RDFS_NS,
    "owl": OWL_NS,
    "xsd": XSD_NS,
    "skos": SKOS_NS,
    "dc": DC_NS,
    "dcterms": DCT_NS,
}

# ---------------------------------------------------------------------------
# Schemas
# ---------------------------------------------------------------------------

TRIPLES_SCHEMA = T.StructType(
    [
        T.StructField("subj", T.StringType(), False),
        T.StructField("pred", T.StringType(), False),
        T.StructField("obj", T.StringType(), False),
        T.StructField("obj_kind", T.StringType(), False),
        T.StructField("obj_lang", T.StringType(), True),
        T.StructField("obj_dt", T.StringType(), True),
    ]
)

TRIPLE_COLS = [f.name for f in TRIPLES_SCHEMA.fields]


def local_df(spark, rows, schema, rows_per_slice: int = 50_000):
    """``createDataFrame`` for DRIVER-LOCAL row lists with a data-sized
    slice count.  PySpark's default path parallelizes any local list
    into ``defaultParallelism`` slices (32 here), so a chain of tiny
    ontology frames unions into hundreds of near-empty tasks — one
    fixture mutation chain measured a 224-task / 7.4 s checkpoint that
    is 7 tasks / <1 s with sized slices.  Driver-local data is by
    definition small (fixtures, parsed ontology documents, axiom
    payloads); bulk paths read parquet/NT and never come through
    here."""
    rows = list(rows)
    # a floor of 4 slices: one slice serializes iterative legs' narrow stages
    n = max(
        min(4, spark.sparkContext.defaultParallelism),
        min(
            len(rows) // rows_per_slice + 1,
            spark.sparkContext.defaultParallelism,
        ),
    )
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, n), schema
    )

PREFIXES_SCHEMA = T.StructType(
    [
        T.StructField("prefix", T.StringType(), False),
        T.StructField("namespace", T.StringType(), False),
        T.StructField("source", T.StringType(), False),
    ]
)

#: KG-pipeline input shape (BASELINE.json input_hint).
PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType(), False),
        T.StructField("warc_ts", T.TimestampType(), False),
        T.StructField("html", T.BinaryType(), False),
        T.StructField("text", T.StringType(), True),
        T.StructField("lang", T.StringType(), True),
    ]
)


# ---------------------------------------------------------------------------
# Term helpers (pure Python, used when building triple rows driver-side)
# ---------------------------------------------------------------------------

def uri(name: str, base: str) -> str:
    """Local name -> URI: prefix with base unless already absolute
    (reference ``ontology_manager.py:288-292``)."""
    if name.startswith("http://") or name.startswith("https://"):
        return name
    return base + name


def t_uri(s: str, p: str, o: str) -> tuple:
    return (s, p, o, "uri", None, None)


def t_bnode(s: str, p: str, o: str) -> tuple:
    return (s, p, o, "bnode", None, None)


def t_lit(s: str, p: str, o: str, lang: str | None = None, dt: str | None = None) -> tuple:
    return (s, p, str(o), "literal", lang, dt)


# ---------------------------------------------------------------------------
# Column expressions (native Catalyst, whole-stage-codegen'd — no UDFs)
# ---------------------------------------------------------------------------

def local_name_col(c: Column) -> Column:
    """``substring_index`` twice: split at last '#', then last '/'.

    Native equivalent of the reference's ``_local_name``
    (``ontology_manager.py:294-299``); used in nearly every projection.
    """
    return F.substring_index(F.substring_index(c, "#", -1), "/", -1)


def to_uri_col(c: Column, base: str) -> Column:
    """Native equivalent of reference ``_uri`` (``ontology_manager.py:288-292``)."""
    return F.when(
        c.startswith("http://") | c.startswith("https://"), c
    ).otherwise(F.concat(F.lit(base), c))


def namespace_col(c: Column) -> Column:
    """URI minus local name — everything up to and incl. the last '#' or '/'.

    Used by majority-vote namespace inference
    (reference ``ontology_manager.py:2261-2293``).
    """
    ln = local_name_col(c)
    return F.substring(c, F.lit(1), F.length(c) - F.length(ln))


def is_bnode(c: Column) -> Column:
    return c.startswith("_:")


# ---------------------------------------------------------------------------
# Constructors
# ---------------------------------------------------------------------------

def empty_triples(spark: SparkSession) -> DataFrame:
    return spark.createDataFrame([], TRIPLES_SCHEMA)


def triples_df(spark: SparkSession, rows: list[tuple]) -> DataFrame:
    """Build a triples DataFrame from 6-tuples (set semantics: dedup)."""
    return spark.createDataFrame(rows, TRIPLES_SCHEMA).dropDuplicates(TRIPLE_COLS)


def type_slice(triples: DataFrame, type_uri: str) -> DataFrame:
    """Subjects declared ``rdf:type <type_uri>`` — the universal entity scan.

    Catalyst pushes both equality filters into the parquet scan when the
    triples table is file-backed; at scale the table is written partitioned
    by a ``pred`` hash bucket so these prune files (SURVEY.md §4.2).
    """
    return (
        triples.filter((F.col("pred") == RDF.type) & (F.col("obj") == type_uri))
        .select("subj")
        .distinct()
    )
