"""Deploy-path benchmark of the pages -> entities -> triples pipeline."""
