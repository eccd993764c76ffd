from traject_spark.macros.basic import literal
from traject_spark.macros.marc21 import (
    extract_marc,
    extract_all_marc_values,
    serialized_marc,
)
from traject_spark.macros.semantics import (
    oclcnum,
    marc_sortable_author,
    marc_sortable_title,
    extract_marc_filing_version,
    marc_languages,
    marc_series_facet,
    marc_instrumentation_humanized,
    marc_instrument_codes_normalized,
    marc_publication_date,
    marc_lcc_to_broad_category,
    marc_geo_facet,
    marc_era_facet,
    marc_lcsh_formatted,
)
from traject_spark.macros.formats import marc_formats, formats_expr

__all__ = [
    "literal",
    "extract_marc",
    "extract_all_marc_values",
    "serialized_marc",
    "oclcnum",
    "marc_sortable_author",
    "marc_sortable_title",
    "extract_marc_filing_version",
    "marc_languages",
    "marc_series_facet",
    "marc_instrumentation_humanized",
    "marc_instrument_codes_normalized",
    "marc_publication_date",
    "marc_lcc_to_broad_category",
    "marc_geo_facet",
    "marc_era_facet",
    "marc_lcsh_formatted",
    "marc_formats",
    "formats_expr",
]
