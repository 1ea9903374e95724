"""Country → continent as a broadcast-joined static lookup table.

The reference resolves continents with a Python UDF wrapping
``pycountry_convert`` (``/root/reference/src/transform.py:41-54``:
name→alpha2→continent code→continent name, ``"Unknown"`` on any error).
That design ships a Python package to every executor (the reference builds a
PEX for exactly this, ``Dockerfile.spark:4-7``) and pays a per-row Python
round-trip.

Here the mapping is a ~200-row data asset generated once (offline, from the
same public ISO-3166 → continent tables pycountry_convert encodes), joined
as a broadcast left join with ``coalesce(continent, 'Unknown')`` reproducing
the UDF's error fallback. The join is a broadcast hash join — no shuffle of
the fact side, fully codegen'd.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StringType, StructField, StructType

from flight_radar_pipeline_spark.sources.flight_api import rows_to_df

# Public ISO-3166 country display names → continent display name, the same
# surface pycountry_convert's convert_continent_code_to_continent_name
# produces: Africa, Antarctica, Asia, Europe, North America, Oceania,
# South America.
COUNTRY_TO_CONTINENT: dict[str, str] = {
    # Africa
    "Algeria": "Africa", "Angola": "Africa", "Benin": "Africa",
    "Botswana": "Africa", "Burkina Faso": "Africa", "Burundi": "Africa",
    "Cameroon": "Africa", "Cape Verde": "Africa", "Chad": "Africa",
    "Democratic Republic of the Congo": "Africa", "Djibouti": "Africa",
    "Egypt": "Africa", "Ethiopia": "Africa", "Gabon": "Africa",
    "Ghana": "Africa", "Guinea": "Africa", "Ivory Coast": "Africa",
    "Kenya": "Africa", "Libya": "Africa", "Madagascar": "Africa",
    "Malawi": "Africa", "Mali": "Africa", "Mauritius": "Africa",
    "Morocco": "Africa", "Mozambique": "Africa", "Namibia": "Africa",
    "Niger": "Africa", "Nigeria": "Africa", "Rwanda": "Africa",
    "Senegal": "Africa", "Seychelles": "Africa", "Sierra Leone": "Africa",
    "Somalia": "Africa", "South Africa": "Africa", "Sudan": "Africa",
    "Tanzania": "Africa", "Togo": "Africa", "Tunisia": "Africa",
    "Uganda": "Africa", "Zambia": "Africa", "Zimbabwe": "Africa",
    # Asia
    "Afghanistan": "Asia", "Armenia": "Asia", "Azerbaijan": "Asia",
    "Bahrain": "Asia", "Bangladesh": "Asia", "Bhutan": "Asia",
    "Brunei": "Asia", "Cambodia": "Asia", "China": "Asia",
    "Georgia": "Asia", "Hong Kong": "Asia", "India": "Asia",
    "Indonesia": "Asia", "Iran": "Asia", "Iraq": "Asia",
    "Israel": "Asia", "Japan": "Asia", "Jordan": "Asia",
    "Kazakhstan": "Asia", "Kuwait": "Asia", "Kyrgyzstan": "Asia",
    "Laos": "Asia", "Lebanon": "Asia", "Macau": "Asia",
    "Malaysia": "Asia", "Maldives": "Asia", "Mongolia": "Asia",
    "Myanmar": "Asia", "Nepal": "Asia", "North Korea": "Asia",
    "Oman": "Asia", "Pakistan": "Asia", "Philippines": "Asia",
    "Qatar": "Asia", "Saudi Arabia": "Asia", "Singapore": "Asia",
    "South Korea": "Asia", "Sri Lanka": "Asia", "Syria": "Asia",
    "Taiwan": "Asia", "Tajikistan": "Asia", "Thailand": "Asia",
    "Turkey": "Asia", "Turkmenistan": "Asia",
    "United Arab Emirates": "Asia", "Uzbekistan": "Asia",
    "Vietnam": "Asia", "Yemen": "Asia",
    # Europe
    "Albania": "Europe", "Austria": "Europe", "Belarus": "Europe",
    "Belgium": "Europe", "Bosnia and Herzegovina": "Europe",
    "Bulgaria": "Europe", "Croatia": "Europe", "Cyprus": "Europe",
    "Czech Republic": "Europe", "Denmark": "Europe", "Estonia": "Europe",
    "Finland": "Europe", "France": "Europe", "Germany": "Europe",
    "Greece": "Europe", "Hungary": "Europe", "Iceland": "Europe",
    "Ireland": "Europe", "Italy": "Europe", "Latvia": "Europe",
    "Lithuania": "Europe", "Luxembourg": "Europe", "Malta": "Europe",
    "Moldova": "Europe", "Monaco": "Europe", "Montenegro": "Europe",
    "Netherlands": "Europe", "North Macedonia": "Europe",
    "Norway": "Europe", "Poland": "Europe", "Portugal": "Europe",
    "Romania": "Europe", "Russia": "Europe", "Serbia": "Europe",
    "Slovakia": "Europe", "Slovenia": "Europe", "Spain": "Europe",
    "Sweden": "Europe", "Switzerland": "Europe", "Ukraine": "Europe",
    "United Kingdom": "Europe",
    # North America
    "Bahamas": "North America", "Barbados": "North America",
    "Belize": "North America", "Canada": "North America",
    "Costa Rica": "North America", "Cuba": "North America",
    "Dominican Republic": "North America", "El Salvador": "North America",
    "Guatemala": "North America", "Haiti": "North America",
    "Honduras": "North America", "Jamaica": "North America",
    "Mexico": "North America", "Nicaragua": "North America",
    "Panama": "North America", "Trinidad and Tobago": "North America",
    "United States": "North America",
    # Oceania
    "Australia": "Oceania", "Fiji": "Oceania", "Kiribati": "Oceania",
    "New Zealand": "Oceania", "Papua New Guinea": "Oceania",
    "Samoa": "Oceania", "Solomon Islands": "Oceania",
    "Tonga": "Oceania", "Vanuatu": "Oceania",
    # South America
    "Argentina": "South America", "Bolivia": "South America",
    "Brazil": "South America", "Chile": "South America",
    "Colombia": "South America", "Ecuador": "South America",
    "Guyana": "South America", "Paraguay": "South America",
    "Peru": "South America", "Suriname": "South America",
    "Uruguay": "South America", "Venezuela": "South America",
    # Antarctica
    "Antarctica": "Antarctica",
}

UNKNOWN = "Unknown"

LOOKUP_SCHEMA = StructType(
    [StructField("country", StringType(), True), StructField("continent", StringType(), True)]
)


def continent_lookup_df(spark: SparkSession) -> DataFrame:
    """The lookup table as a 2-column DataFrame (country, continent).

    Built through ``rows_to_df``, so the broadcast that every airports
    build runs scans an Arrow table in the JVM and starts no Python worker.
    """
    return rows_to_df(spark, sorted(COUNTRY_TO_CONTINENT.items()), LOOKUP_SCHEMA)


def with_continent(
    df: DataFrame,
    country_col: Column | str,
    out_col: str = "continent",
) -> DataFrame:
    """Add ``out_col`` by broadcast-joining the static lookup.

    Misses (junk country, null) become ``"Unknown"`` — exactly the
    reference UDF's except-branch (``src/transform.py:51-54``).
    """
    spark = df.sparkSession
    key = F.col(country_col) if isinstance(country_col, str) else country_col
    lookup = continent_lookup_df(spark).withColumnsRenamed(
        {"country": "__lk_country", "continent": "__lk_continent"}
    )
    joined = df.join(F.broadcast(lookup), key == F.col("__lk_country"), "left")
    return joined.withColumn(
        out_col, F.coalesce(F.col("__lk_continent"), F.lit(UNKNOWN))
    ).drop("__lk_country", "__lk_continent")
