"""Sources: Parquet table loaders (driver testdata) and the API-shaped
source scan with a stubbed transport."""
