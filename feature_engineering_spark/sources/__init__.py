from feature_engineering_spark.sources.pages import (  # noqa: F401
    generate_labels,
    generate_pages,
    stage_input,
)
