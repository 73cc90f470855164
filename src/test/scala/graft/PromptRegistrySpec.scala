package graft


/** Prompt-template registry: named resolution, per-op restriction, and
  * the DIY escape hatch — the reference's PROMPT_REGISTRY +
  * prompt_restrict contract (utils/registry.py:259, core/prompt.py:29). */
class PromptRegistrySpec extends SparkSuite {
  import spark.implicits._
  import graft.core.{PromptRegistry, PromptTemplate, Registry}

  Ops.registerAll()

  test("a named template resolves and drives the by-name prompted op") {
    val op = Registry.get("prompted_generator", Map(
      "prompt_template" -> "text2qa_question", "output_key" -> "gen"))
    val out = op(Seq(("hi", "en")).toDF("text", "lang"))
      .select("gen").as[String].head()
    // MockServing echoes system+prompt; the template's {lang}/{text}
    // placeholders must have been substituted
    assert(out.contains("Q(en): hi") && out.contains("QGEN"))
  }

  test("a restricted template is rejected with the allowed set named") {
    val e = intercept[IllegalArgumentException] {
      Registry.get("prompted_filter", Map("prompt_template" -> "text2qa_question"))
    }
    assert(e.getMessage.contains("prompted_filter"))
    assert(e.getMessage.contains("core_text_judge"))
  }

  test("an unknown template name fails loudly") {
    intercept[NoSuchElementException] {
      Registry.get("prompted_generator", Map("prompt_template" -> "nope"))
    }
  }

  test("a diy template passes any op's restriction") {
    PromptRegistry.register(
      PromptTemplate("my_diy", "{text}!", systemPrompt = "MINE", diy = true))
    val t = PromptRegistry.resolve("prompted_filter", "my_diy")
    assert(t.systemPrompt == "MINE")
  }

  test("unrestricted ops accept any registered template") {
    val t = PromptRegistry.resolve("some_future_op", "core_text_generate")
    assert(t.name == "core_text_generate")
  }
}
