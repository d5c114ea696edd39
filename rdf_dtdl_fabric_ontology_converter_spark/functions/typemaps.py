"""Type-mapping dictionaries (broadcast side inputs).

Data-only module: the three source type systems folding into the 6 Fabric
value types {String, Boolean, DateTime, BigInt, Double, Decimal}.

- XSD→Fabric: 35-entry map + union-resolution hierarchy
  (reference: src/formats/rdf/type_mapper.py:20-87)
- DTDL→Fabric (reference: src/formats/dtdl/dtdl_converter.py:65-97)
- CDM→Fabric primitives + semantic types
  (reference: src/formats/cdm/cdm_type_mapper.py:50-210)

Each becomes a small broadcast-joined DataFrame (J11 in SURVEY §2.3) — the
"broadcast of the ontology/namespace dictionary" from the north rule.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

XSD = "http://www.w3.org/2001/XMLSchema#"

# the Fabric value-type universe (reference:
# src/shared/utilities/type_registry.py FABRIC_TYPES plus the two extra
# API-documented types accepted by src/core/validators/fabric_schema.py:46)
FABRIC_TYPES = frozenset({"String", "Boolean", "DateTime", "BigInt",
                          "Double", "Decimal", "Binary", "Guid"})


@dataclass
class TypeMappingRegistry:
    """User-supplied (format, source_type) → fabric_type overrides and
    per-mapping value converters.

    Spark mapping of the reference TypeMappingRegistry
    (reference: src/shared/utilities/type_registry.py:68-130): per-format
    custom mappings layered over the built-in dictionaries, as pure data
    ("dictionary-as-data") merged into the broadcast map DataFrames / UDF
    lookup dicts, so overrides distribute for free.

    The reference additionally admits a per-mapping ``converter`` callable
    applied per VALUE (type_registry.py:237-258 convert_value). The Spark
    equivalent is a **Column builder**: ``Callable[[Column], Column]``
    registered per (format, source_type) and compiled by
    :func:`convert_values` into one chained ``when`` expression — the whole
    conversion stays inside whole-stage codegen, no per-row Python.
    """
    default_type: str = "String"
    _maps: dict[str, dict[str, str]] = field(default_factory=dict)
    _converters: dict[str, dict[str, object]] = field(default_factory=dict)
    _aliases: dict[str, dict[str, str]] = field(default_factory=dict)

    def __post_init__(self):
        if self.default_type not in FABRIC_TYPES:
            raise ValueError(f"Invalid default type: {self.default_type}")

    def register_mapping(self, format_name: str, source_type: str,
                         fabric_type: str, converter=None) -> None:
        """``converter``: optional Column builder (Column → Column) applied
        to values of this source type by convert_values()."""
        if fabric_type not in FABRIC_TYPES:
            raise ValueError(
                f"Invalid Fabric type '{fabric_type}'. Must be one of: "
                f"{', '.join(sorted(FABRIC_TYPES))}")
        self._maps.setdefault(format_name.lower(), {})[source_type] = \
            fabric_type
        if converter is not None:
            self.register_converter(format_name, source_type, converter)

    def register_converter(self, format_name: str, source_type: str,
                           builder) -> None:
        """Register a value-converter Column builder for (format, type)
        without changing the type mapping itself."""
        if not callable(builder):
            raise TypeError("converter must be a callable Column builder")
        self._converters.setdefault(format_name.lower(), {})[source_type] = \
            builder

    def register_alias(self, format_name: str, alias: str,
                       canonical: str) -> None:
        """Alias source-type spellings to a canonical one
        (reference type_registry.py:166-185)."""
        self._aliases.setdefault(format_name.lower(), {})[alias] = canonical

    def canonical(self, format_name: str, source_type: str) -> str:
        return self._aliases.get(format_name.lower(), {}) \
            .get(source_type, source_type)

    def converters(self, format_name: str) -> dict[str, object]:
        return dict(self._converters.get(format_name.lower(), {}))

    def overrides(self, format_name: str) -> dict[str, str]:
        fmt = format_name.lower()
        out = dict(self._maps.get(fmt, {}))
        # alias spellings inherit their canonical's mapping
        for alias, canon in self._aliases.get(fmt, {}).items():
            if canon in out:
                out.setdefault(alias, out[canon])
        return out

    def merged(self, format_name: str, base: dict[str, str]
               ) -> dict[str, str]:
        out = dict(base)
        out.update(self.overrides(format_name))
        return out


def convert_values(df: DataFrame, registry: TypeMappingRegistry,
                   format_name: str, value_col: str,
                   source_type_col: str,
                   out_col: str | None = None) -> DataFrame:
    """Apply the registry's value converters to an instance-value column.

    Spark mapping of reference ``TypeMappingRegistry.convert_value``
    (type_registry.py:237-258): instead of calling a Python callable per
    value, every registered (source_type → builder) pair becomes one branch
    of a chained ``when`` expression over ``source_type_col`` — a single
    JVM-side projection (whole-stage codegen), applied identically on every
    executor. Unregistered source types pass values through unchanged, like
    the reference.
    """
    from pyspark.sql import functions as F  # local: data-module import cycle
    convs = registry.converters(format_name)
    if not convs:
        return df if out_col is None else df.withColumn(
            out_col, F.col(value_col))
    # alias spellings route to their canonical converter
    for alias, canon in registry._aliases.get(format_name.lower(),
                                              {}).items():
        if canon in convs:
            convs.setdefault(alias, convs[canon])
    expr = None
    for st, builder in sorted(convs.items()):
        branch = builder(F.col(value_col))
        cond = F.col(source_type_col) == st
        expr = F.when(cond, branch) if expr is None \
            else expr.when(cond, branch)
    expr = expr.otherwise(F.col(value_col))
    return df.withColumn(out_col or value_col, expr)

XSD_TO_FABRIC: dict[str, str] = {
    # string family
    XSD + "string": "String", XSD + "anyURI": "String",
    XSD + "normalizedString": "String", XSD + "token": "String",
    XSD + "language": "String", XSD + "Name": "String",
    XSD + "NCName": "String", XSD + "NMTOKEN": "String",
    # boolean
    XSD + "boolean": "Boolean",
    # date/time (time-only and durations preserved as String)
    XSD + "dateTime": "DateTime", XSD + "date": "DateTime",
    XSD + "dateTimeStamp": "DateTime",
    XSD + "time": "String", XSD + "duration": "String",
    XSD + "dayTimeDuration": "String", XSD + "yearMonthDuration": "String",
    # 13 integer types
    XSD + "integer": "BigInt", XSD + "int": "BigInt", XSD + "long": "BigInt",
    XSD + "short": "BigInt", XSD + "byte": "BigInt",
    XSD + "nonNegativeInteger": "BigInt", XSD + "positiveInteger": "BigInt",
    XSD + "nonPositiveInteger": "BigInt", XSD + "negativeInteger": "BigInt",
    XSD + "unsignedInt": "BigInt", XSD + "unsignedLong": "BigInt",
    XSD + "unsignedShort": "BigInt", XSD + "unsignedByte": "BigInt",
    # floating point (xsd:decimal → Double: precision loss documented upstream)
    XSD + "double": "Double", XSD + "float": "Double", XSD + "decimal": "Double",
    # binary + other
    XSD + "base64Binary": "String", XSD + "hexBinary": "String",
    XSD + "QName": "String", XSD + "NOTATION": "String",
}

# Union resolution: most- to least-restrictive (Boolean > BigInt > Double >
# DateTime > String); rank joined then min(rank) aggregated (A5).
_HIERARCHY: list[tuple[list[str], str]] = [
    (["boolean"], "Boolean"),
    (["integer", "int", "long", "short", "byte", "nonNegativeInteger",
      "positiveInteger", "unsignedInt", "unsignedLong", "unsignedShort",
      "unsignedByte", "nonPositiveInteger", "negativeInteger"], "BigInt"),
    (["double", "float", "decimal"], "Double"),
    (["dateTime", "date", "dateTimeStamp"], "DateTime"),
    (["string", "anyURI", "normalizedString", "token", "language", "Name",
      "NCName", "NMTOKEN", "time", "duration", "dayTimeDuration",
      "yearMonthDuration", "base64Binary", "hexBinary", "QName", "NOTATION"],
     "String"),
]

XSD_RANK: dict[str, tuple[int, str]] = {}
RANK_TO_FABRIC: dict[int, str] = {}
for _rank, (_locals, _fab) in enumerate(_HIERARCHY):
    RANK_TO_FABRIC[_rank] = _fab
    for _l in _locals:
        XSD_RANK[XSD + _l] = (_rank, _fab)

DTDL_TO_FABRIC: dict[str, str] = {
    "boolean": "Boolean",
    "byte": "BigInt", "short": "BigInt", "integer": "BigInt", "long": "BigInt",
    "unsignedByte": "BigInt", "unsignedShort": "BigInt",
    "unsignedInteger": "BigInt", "unsignedLong": "BigInt",
    "float": "Double", "double": "Double", "decimal": "Double",
    "string": "String", "uuid": "String", "bytes": "String",
    "date": "DateTime", "dateTime": "DateTime",
    "time": "String", "duration": "String",
    "point": "String", "lineString": "String", "polygon": "String",
    "multiPoint": "String", "multiLineString": "String",
    "multiPolygon": "String",
    "scaledDecimal": "String",
}

# CDM primitives (note decimal/numeric/money → Decimal, unlike XSD; and
# time → DateTime, unlike XSD time → String) — keys lowercased, lookup is
# case-insensitive per the reference
CDM_TO_FABRIC: dict[str, str] = {
    "string": "String", "char": "String", "text": "String",
    "integer": "BigInt", "int": "BigInt", "int64": "BigInt",
    "int32": "BigInt", "int16": "BigInt", "smallinteger": "BigInt",
    "biginteger": "BigInt", "byte": "BigInt", "tinyinteger": "BigInt",
    "float": "Double", "double": "Double", "real": "Double",
    "decimal": "Decimal", "numeric": "Decimal", "money": "Decimal",
    "smallmoney": "Decimal",
    "boolean": "Boolean", "bool": "Boolean",
    "date": "DateTime", "datetime": "DateTime", "datetimeoffset": "DateTime",
    "time": "DateTime", "timestamp": "DateTime",
    "guid": "String", "uuid": "String", "uniqueidentifier": "String",
    "binary": "String", "varbinary": "String", "image": "String",
    "json": "String", "object": "String", "variant": "String",
}

# CDM semantic types (reference: cdm_type_mapper.py:112-210) — lowercased
CDM_SEMANTIC_TO_FABRIC: dict[str, str] = {k.lower(): v for k, v in {
    "name": "String", "fullName": "String", "firstName": "String",
    "lastName": "String", "middleName": "String",
    "email": "String", "phone": "String", "phoneNumber": "String",
    "fax": "String",
    "url": "String", "uri": "String", "webAddress": "String",
    "ipAddress": "String", "ipV4Address": "String", "ipV6Address": "String",
    "address": "String", "city": "String", "stateOrProvince": "String",
    "country": "String", "postalCode": "String", "county": "String",
    "latitude": "Double", "longitude": "Double",
    "languageTag": "String", "locale": "String", "cultureTag": "String",
    "timezone": "String",
    "year": "BigInt", "month": "BigInt", "day": "BigInt", "week": "BigInt",
    "quarter": "BigInt", "fiscalYear": "BigInt", "fiscalMonth": "BigInt",
    "fiscalQuarter": "BigInt",
    "age": "BigInt", "duration": "BigInt",
    "distance": "Double", "weight": "Double", "height": "Double",
    "area": "Double", "volume": "Double", "temperature": "Double",
    "percentage": "Double", "probability": "Double",
    "currency": "Decimal", "currencyCode": "String",
    "baseCurrency": "Decimal", "exchangeRate": "Decimal",
    "amount": "Decimal", "price": "Decimal", "tax": "Decimal",
    "discount": "Decimal",
    "count": "BigInt", "quantity": "BigInt", "sequence": "BigInt",
    "ordinal": "BigInt",
    "statusCode": "BigInt", "stateCode": "BigInt", "versionNumber": "BigInt",
    "colorName": "String", "colorValue": "String",
    "fileName": "String", "filePath": "String", "mimeType": "String",
    "fileSize": "BigInt",
    "code": "String", "tickerSymbol": "String", "accountCode": "String",
    "productCode": "String", "transactionCode": "String",
    "referenceCode": "String",
}.items()}

# trait-based inference (reference: cdm_type_mapper.py:371-401)
CDM_TRAIT_TO_FABRIC: dict[str, str] = {
    "is.dataFormat.integer": "BigInt",
    "is.dataFormat.big": "BigInt",
    "is.dataFormat.small": "BigInt",
    "is.dataFormat.floatingPoint": "Double",
    "is.dataFormat.numeric.shaped": "Decimal",
    "is.dataFormat.boolean": "Boolean",
    "is.dataFormat.date": "DateTime",
    "is.dataFormat.time": "DateTime",
    "is.dataFormat.timeOffset": "DateTime",
    "is.dataFormat.character": "String",
    "is.dataFormat.array": "String",
    "is.dataFormat.guid": "String",
    "is.dataFormat.byte": "BigInt",
}


def cdm_is_supported(cdm_type: str | None) -> bool:
    """Whether a CDM data type maps without the String fallback
    (reference: cdm_type_mapper.is_supported_type; entity references count
    as supported here — they are flagged separately as INFO)."""
    if cdm_type is None:
        return True  # missing type is its own (missing_data_type) rule
    t = cdm_type.lower()
    return (t in CDM_TO_FABRIC or t in CDM_SEMANTIC_TO_FABRIC
            or t in ("entity", "entityid", "entityname", "entityreference"))


def cdm_map_type(cdm_type: str, traits: list[str] | None = None,
                 overrides: dict[str, str] | None = None) -> str:
    """Driver/UDF-side CDM type mapping (reference: map_type semantics):
    overrides → primitives → semantics → trait inference → String default."""
    t = (cdm_type or "string").lower()
    if overrides and t in overrides:
        return overrides[t]
    if t in ("entity", "entityid", "entityname"):
        return "String"  # entity references flagged elsewhere
    if t in CDM_TO_FABRIC:
        return CDM_TO_FABRIC[t]
    if t in CDM_SEMANTIC_TO_FABRIC:
        return CDM_SEMANTIC_TO_FABRIC[t]
    for tr in traits or []:
        if tr in CDM_TRAIT_TO_FABRIC:
            return CDM_TRAIT_TO_FABRIC[tr]
    return "String"


def xsd_map_df(spark: SparkSession,
               registry: TypeMappingRegistry | None = None) -> DataFrame:
    base = XSD_TO_FABRIC if registry is None \
        else registry.merged("rdf", XSD_TO_FABRIC)
    rows = [(k, v, XSD_RANK.get(k, (99, v))[0]) for k, v in base.items()]
    return spark.createDataFrame(rows, "xsd_iri string, fabric_type string, rank int")
